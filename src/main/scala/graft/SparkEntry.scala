package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every operator in SURVEY §2 is one [[QueryDef]] contributed by an ops
  * module below; this object is only the assembly point.
  */
object SparkEntry {

  private lazy val all: Seq[QueryDef] =
    IngestOps.defs ++ ReportOps.defs ++ RelationalOps.defs ++
      ScalarOps.defs ++ StreamOps.defs ++ DedupOps.defs ++
      SimilarityOps.defs ++ TextOps.defs ++ LmOps.defs ++ MultimodalOps.defs ++
      CurationOps.defs ++ LayoutOps.defs ++ TemporalOps.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ReportOps.aggDaily(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** The build/serve decompositions, in registry order: Bench times their
    * two legs and BenchSplitSpec pins each serve ≡ its registry query.
    */
  lazy val splits: Seq[(String, QueryDef.Split)] =
    all.flatMap(q => q.split.map(q.name -> _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Data-dependent oracle generators (see [[QueryDef.oracleGen]]):
    * Verify invokes each with the live session + sf dir and merges the
    * rendered SQL into oracle_sql.json beside the static entries.
    */
  lazy val oracleSqlDynamic: Map[String, (SparkSession, String) => String] =
    all.flatMap(q => q.oracleGen.map(q.name -> _)).toMap
}
