package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

import graft.{JobCounter, Session, SparkEntry}

/** Per-query probes of the registry on one [[graft.Session.local]]:
  *
  * {{{
  * runMain graft.tools.Probe run    <q1,q2,...> [sfDir] [rounds]
  * runMain graft.tools.Probe phases [sfDir] [q1,q2,...] [iters]
  * runMain graft.tools.Probe stages <q> [sfDir]
  * runMain graft.tools.Probe plans  <outDir> <suffix> [q1,q2,...]
  * runMain graft.tools.Probe smoke
  * }}}
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, the directory Bench reads
  * (`plans` always reads it); no query list means every registered query.
  *
  * `run`, `phases` and `stages` run each query once untimed (codegen, JIT,
  * one-time index builds), then time it in the benchmark harness's three
  * steps: construct the DataFrame, which already runs a pinned query's
  * eager work; plan it (`executedPlan`: Catalyst optimization and physical
  * planning); execute it (`toRdd.count()`, which produces every output
  * column). Each step's jobs, stages, executor task-seconds and GC
  * seconds are the [[JobCounter]] difference across it, read outside the
  * timed window.
  *
  *  - `run`: each query's wall time and counters, per round.
  *  - `phases`: each query's fastest of `iters` runs, split into construct,
  *    plan and exec.
  *  - `stages`: every stage of one run of one query: tasks, task-seconds,
  *    wall and the first engine call site.
  *  - `plans`: `explain("formatted")` of each query into
  *    `<outDir>/<q>_<suffix>.txt`, the before/after record of a plan
  *    change. `grep -rlE 'InMemory(Relation|TableScan)' <outDir>`
  *    lists the plans that read a cached relation.
  *  - `smoke`: `SparkEntry.entry` returns rows.
  */
object Probe {

  /** One step of a timed run: wall seconds and the counters it moved. */
  private final case class Phase(sec: Double, c: JobCounter.Counts)

  private final case class Run(rows: Long, construct: Phase, plan: Phase, exec: Phase) {
    def phases: Seq[(String, Phase)] =
      Seq("construct" -> construct, "plan" -> plan, "exec" -> exec)
    def total: Phase = Phase(construct.sec + plan.sec + exec.sec,
      construct.c + plan.c + exec.c)
  }

  private def phase[A](counter: JobCounter)(body: => A): (A, Phase) = {
    val c0 = counter.snapshot()
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    (a, Phase(sec, counter.snapshot() - c0))
  }

  private def timedRun(s: SparkSession, counter: JobCounter, name: String, sfDir: String): Run = {
    val (df, construct) = phase(counter)(SparkEntry.queries(name)(s, sfDir))
    val qe = df.queryExecution
    val (_, plan) = phase(counter)(qe.executedPlan)
    val (rows, exec) = phase(counter)(
      SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.count()))
    Run(rows, construct, plan, exec)
  }

  /** The untimed first run of each query; the ones that fail are reported
    * and left out.
    */
  private def warm(s: SparkSession, counter: JobCounter, names: Seq[String], sfDir: String): Seq[String] =
    names.filter { n =>
      try { timedRun(s, counter, n, sfDir); true }
      catch { case e: Throwable => println(s"[probe] $n FAILED: $e"); false }
    }

  private def show(p: Phase): String =
    f"${p.sec}%7.3f s  jobs=${p.c.jobs}%3d stages=${p.c.stages}%3d " +
      f"taskSec=${p.c.taskMs / 1e3}%7.2f gcSec=${p.c.gcMs / 1e3}%5.2f"

  private def sfArg(a: Option[String]): String =
    a.filter(_.nonEmpty).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no sfDir: pass one or set SPARK_GRAFT_SF_DIR"))

  private def namesArg(a: Option[String]): Seq[String] =
    a.filter(_.nonEmpty).fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(',').toSeq)

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    try args.headOption match {
      case Some("run") =>
        val sfDir = sfArg(args.lift(2))
        val counter = JobCounter.on(spark.sparkContext)
        val names = warm(spark, counter, args(1).split(',').toSeq, sfDir)
        for (r <- 1 to args.lift(3).fold(3)(_.toInt); n <- names)
          println(f"[run] round $r $n%-28s ${show(timedRun(spark, counter, n, sfDir).total)}")

      case Some("phases") =>
        val sfDir = sfArg(args.lift(1))
        val iters = args.lift(3).fold(3)(_.toInt)
        val counter = JobCounter.on(spark.sparkContext)
        for (n <- warm(spark, counter, namesArg(args.lift(2)), sfDir)) {
          val best = Seq.fill(iters)(timedRun(spark, counter, n, sfDir)).minBy(_.total.sec)
          (best.phases :+ ("total" -> best.total)).foreach { case (k, p) =>
            println(f"[phases] $n%-28s $k%-9s ${show(p)}")
          }
        }

      case Some("stages") =>
        val name = args(1)
        val sfDir = sfArg(args.lift(2))
        val log = new ConcurrentLinkedQueue[StageInfo]
        val counter = JobCounter.on(spark.sparkContext, si => { log.add(si); () })
        warm(spark, counter, Seq(name), sfDir)
        log.clear()
        val run = timedRun(spark, counter, name, sfDir)
        log.forEach { si =>
          val wall =
            (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
          val site = si.details.linesIterator
            .find(l => l.contains("graft") || l.contains("Ops.scala"))
            .getOrElse(si.name).trim
          println(f"[stages] ${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"taskSec=${si.taskMetrics.executorRunTime / 1e3}%7.2f wall=$wall%6.2f  $site")
        }
        println(s"[stages] TOTAL ${show(run.total)}")

      case Some("plans") =>
        val Array(_, outDir, suffix) = args.take(3)
        val sfDir = sfArg(None)
        Files.createDirectories(Paths.get(outDir))
        for (n <- namesArg(args.lift(3)))
          try {
            val txt = SparkEntry.queries(n)(spark, sfDir)
              .queryExecution.explainString(FormattedMode)
            Files.write(Paths.get(outDir, s"${n}_$suffix.txt"), txt.getBytes("UTF-8"))
            println(s"[plans] wrote $n")
          } catch { case e: Throwable => println(s"[plans] $n FAILED: $e") }

      case Some("smoke") =>
        val df = SparkEntry.entry(spark)
        val n = df.count()
        df.show(5, truncate = false)
        println(s"[smoke] entry rows=$n queries=${SparkEntry.queries.size} " +
          s"oracles=${SparkEntry.oracleSql.size}")
        require(n > 0, "entry returned no rows")

      case _ =>
        sys.error("usage: Probe run|phases|stages|plans|smoke ... (see graft.tools.Probe)")
    } finally spark.stop()
  }
}
