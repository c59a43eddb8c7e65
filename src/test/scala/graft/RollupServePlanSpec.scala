package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.ops.{RelationalOps, StreamOps}

/** The shape of [[RelationalOps.serveRollup]]'s plan: the whole report is
  * one partial/final aggregate over one hash exchange on event_type. Its
  * day count is `size(collect_set(day))`, one more mergeable buffer beside
  * the HLL and digest unions; `countDistinct(day)` would add an
  * aggregation level and a second exchange on (event_type, day). The
  * rows stay those of the countDistinct form, rebuilt here, over a
  * two-root family whose days straddle both roots.
  */
class RollupServePlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The serve as it read with countDistinct(day). */
  private def countDistinctForm(paths: Seq[String]): DataFrame = {
    val union = udaf(new graft.expr.QDigestMergeAgg(RelationalOps.QdK),
      org.apache.spark.sql.Encoders.BINARY)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    val mass = udf((sk: Array[Byte]) => graft.expr.QDigest.mass(sk))
    graft.index.GenLog.read(spark, paths)
      .groupBy($"event_type")
      .agg(
        countDistinct($"day").as("n_days"),
        hll_sketch_estimate(hll_union_agg($"hll")).as("users"),
        union($"qd").as("msk"))
      .select(
        $"event_type",
        $"n_days",
        mass($"msk").as("n"),
        $"users",
        est($"msk", lit(0.5)).as("p50_cents"),
        est($"msk", lit(0.95)).as("p95_cents"))
  }

  /** Hash exchanges of the executed (final adaptive) plan, each as its
    * partitioning columns.
    */
  private def exchanges(plan: SparkPlan): Seq[Seq[String]] =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning =>
        h.expressions.map { case a: AttributeReference => a.name; case x => x.sql }
      }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("event_type").collect().map(_.toString).toSeq

  test("serveRollup: no Expand, one hash exchange on event_type, the countDistinct form's rows") {
    val ev = T(spark, sf, "events")
    val dir = Files.createTempDirectory("graft_rollup_plan").toString
    StreamOps.RollupFamily.buildOnce(spark, dir)(
      Seq(ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1)))
    val roots = StreamOps.RollupFamily.roots(spark, dir)
    assert(roots.size === 2)

    val served = RelationalOps.serveRollup(spark, roots)
    val got = rows(served)
    val plan = served.queryExecution.executedPlan
    served.collect() // the adaptive plan is final once executed
    assert(collect(plan) { case x: ExpandExec => x }.isEmpty, plan.toString)
    assert(exchanges(plan) === Seq(Seq("event_type")), plan.toString)

    val parent = countDistinctForm(roots)
    assert(got === rows(parent))
    // the form it replaced plans the second exchange this spec rules out
    val parentPlan = parent.queryExecution.executedPlan
    parent.collect()
    assert(exchanges(parentPlan).size === 2, parentPlan.toString)
  }
}
