package graft

import graft.index.GenLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide [[Session.local]] at a fixed
  * four threads, so partition-sensitive assertions do not follow the host.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** Everything committed under the family dir `dir`, merged on read:
    * the state a serve over the family's roots reads.
    */
  def familyState(fam: GenLog.GenFamily, dir: String, artifact: String = ""): DataFrame =
    GenLog.read(spark, fam.roots(spark, dir), artifact)

  /** The directories whose files `df`'s parquet scans read: each scan's
    * listing under its own static partition filters (a dynamic pruning
    * filter can only drop more). `Dataset.inputFiles` lists a path-based
    * table whole, pruned or not.
    */
  def scannedDirs(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec =>
      val static = f.partitionFilters.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]]))
      f.relation.location.listFiles(static, f.dataFilters)
        .flatMap(_.files.map(_.getPath.getParent.toString))
    }.flatten.toSet
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
