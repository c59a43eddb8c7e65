package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** One named operator from SURVEY.md §2: the Spark implementation plus
  * (when SQL-expressible) the DuckDB oracle SQL the driver hash-compares
  * against at sf0.01. Oracle is None for approximate / sink-only ops, which
  * get the driver's weaker rows-only check.
  *
  * `oracleGen` is the DATA-DEPENDENT oracle variant: a generator invoked
  * by Verify at dump time with the session and sf dir, for queries whose
  * exact SQL mirror needs model state computed from the corpus (e.g. the
  * Lloyd-trained codebooks — the training loop is not oracle-expressible,
  * but its deterministic OUTPUT rendered as exact-decimal literals makes
  * assignment + prune + top-k hash-checkable end-to-end, the
  * q_dedup_embed_rh hyperplane-literal idiom with trained instead of
  * seeded state). At most one of oracle/oracleGen is set.
  *
  * `split` is the query's build/serve decomposition: build commits the
  * persisted state once, serve answers from it. A served or incremental
  * query is declared once with [[QueryDef.served]], whose `fn` is build
  * then serve; a query whose composed form is a different in-session
  * computation sets both, and BenchSplitSpec pins that the two agree.
  * Bench times the two legs separately (`splits` in its record).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    oracleGen: Option[(SparkSession, String) => String] = None,
    split: Option[QueryDef.Split] = None)

object QueryDef {
  type Split = (SparkSession, String) => (() => Unit, () => DataFrame)

  /** A query served from persisted state: the registry runs build, then
    * returns serve's frame.
    */
  def served(name: String, split: Split, oracle: String): QueryDef =
    QueryDef(
      name,
      (s, d) => {
        val (build, serve) = split(s, d)
        build()
        serve()
      },
      Some(oracle),
      split = Some(split))
}

/** The reference's fixed 7-field output row (main.py:164-172), the typed
  * ingest boundary promised in SURVEY §1.4: `Option` fields are exactly
  * the keys the reference passes through as possibly-absent, and
  * `user_id`/`event_timestamp` are the two it hard-requires
  * (main.py:146-147, 161-163). Built by
  * [[graft.ops.TypedIngest.attempts]].
  */
final case class Attempt(
    user_id: String,
    oauth_consumer_key: Option[String],
    lis_result_sourcedid: Option[String],
    lis_outcome_service_url: Option[String],
    is_correct: Option[Boolean],
    attempt_type: Option[String],
    event_timestamp: java.sql.Timestamp)

/** Testdata access + shared time constants. */
object T {
  /** Timestamp columns that need generation-specific handling. Earlier
    * testdata generations stored TIMESTAMP(NANOS), which Spark 4 rejects
    * outright (PARQUET_TYPE_ILLEGAL), so we read nanos as raw longs
    * (spark.sql.legacy.parquet.nanosAsLong) and truncate to µs — exactly
    * what DuckDB's ns→µs cast does on the oracle side (SURVEY §7.4.4).
    * Current generations store TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * which Spark 4 would infer as TIMESTAMP_NTZ — a type DuckDB reads as
    * its plain naive TIMESTAMP but that breaks unix_micros()/getTimestamp
    * callers — so NTZ inference is disabled and the stored micros read as
    * UTC instants (sessions run with UTC session tz: identical values).
    */
  private val NanoTsCols = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** Every testdata table is a single parquet file (TESTDATA.md). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // predicate pushdown through the nano→µs projection (see NanoTsPushdown)
    if (!spark.experimental.extraOptimizations.contains(plans.NanoTsPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.NanoTsPushdown
    val df = parquet(spark, s"$sfDir/$name.parquet")
    NanoTsCols.getOrElse(name, Nil).foldLeft(df) { (acc, c) =>
      if (acc.schema(c).dataType == LongType)
        acc.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      else acc
    }
  }

  /** Every parquet read of the engine: `s.read.parquet(paths: _*)` with
    * the schema Spark would infer handed to it up front. Inference runs a
    * one-task Spark job per open, even when it touches a single footer;
    * here that footer is read on the driver instead ([[GraftParquetBridge]]),
    * so opening a table submits no job. Partition columns are still
    * discovered by Spark; a missing path or a directory without data
    * files reads without a schema, so Spark raises its own error.
    */
  def parquet(s: SparkSession, paths: String*): DataFrame =
    GraftParquetBridge.footerSchema(s, paths) match {
      case Some(schema) => s.read.schema(schema).parquet(paths: _*)
      case None => s.read.parquet(paths: _*)
    }

  /** As-of day = max event date in the testdata (events span
    * 2024-01-01..2024-01-30 at every scale factor). The reference slices on
    * wall-clock CURRENT_DATE (/root/reference/main.py:280,288); we
    * parameterize time for determinism (SURVEY §7.4.1).
    */
  val AsOf = "2024-01-30"
}

/** Cross-engine determinism helpers (SURVEY §7.5). The driver hash-compares
  * Spark output against DuckDB, so every floating-point value must be
  * bit-identical across engines:
  *
  *   - double SUMs are order-dependent → cast to decimal per row (exact for
  *     fixed-scale money-like columns), sum exactly, emit DOUBLE (results
  *     < 2^53, so the final cast is exact too);
  *   - round(double, n) disagrees at decimal boundaries (Spark rounds the
  *     exact binary value HALF_UP via BigDecimal; DuckDB rounds half-away on
  *     a scaled representation — e.g. round(1.115, 2) = 1.11 vs 1.12) →
  *     use floor(x*k + 0.5)/k, computed wholly in IEEE doubles, identical
  *     in both engines;
  *   - transcendentals (log/exp/pow) are not correctly-rounded across libms
  *     → never used in oracle-checked queries (sqrt IS IEEE-exact: allowed).
  */
object X {
  /** Order-independent exact sum of a 2-decimal double column, as DOUBLE. */
  def dsum2(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Portable half-up rounding to 2 / 6 decimal places (see above). */
  def r2(c: Column): Column = floor(c * lit(100d) + lit(0.5d)) / lit(100d)
  def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5d)) / lit(1e6)
}
