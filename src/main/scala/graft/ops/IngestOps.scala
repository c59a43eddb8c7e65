package graft.ops

import graft.{QueryDef, T}
import graft.expr.LenientJson
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier A ingest chain (SURVEY §2): the reference's extract→transform
  * surface re-expressed as declarative DataFrame plans. Filters and
  * projections sit directly on the parquet scan so Catalyst pushes them
  * down (the reference fetches everything and discards in Python,
  * /root/reference/main.py:106-141 — we deliberately do the opposite).
  */
object IngestOps {

  /** All six event columns, with ts normalized to µs on the DuckDB side. */
  private val EventCols =
    "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"

  /** q_src_scan — bounded source scan (main.py:103-125). */
  private def srcScan(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").orderBy("event_id")

  /** The reference's actual source format — JSON attempt records fetched
    * from the API (main.py:113-125) — as a schema-enforced distributed
    * scan. PERMISSIVE mode is the per-record analog of the reference's
    * response-level accept-or-empty: a malformed record nulls its row
    * instead of failing the job, and the reject side-channel
    * (q_filter_rejects) picks it up downstream. Exercised by
    * JsonSourceSpec against the parquet analog.
    */
  def readJsonEvents(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, props STRING")
      .option("mode", "PERMISSIVE")
      // µs-precision wire format: the writer default truncates to ms
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  /** CSV ingest — the second wire format (the reference's sheet grid,
    * main.py:254-264, is CSV-shaped): schema-enforced, PERMISSIVE, with
    * the corrupt-record side channel materialized as a column so rejects
    * are observable downstream exactly like q_filter_rejects — a
    * malformed line nulls its typed fields and lands its raw text in
    * `_corrupt`, never failing the job. Exercised by CsvSourceSpec.
    */
  def readCsvEvents(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, props STRING, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      // props holds JSON with embedded commas/quotes: write side quotes it,
      // read side must honor RFC-4180 escaping
      .option("escape", "\"")
      .csv(path)

  /** q_window_7d — rolling 7-day extraction window (DAYS_BACK=7,
    * main.py:25,104-111): [as-of+1d − 7d, ∞) on event time.
    */
  private def window7d(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .filter($"ts" >= to_timestamp(lit("2024-01-24 00:00:00")))
      .orderBy("event_id")
  }

  /** q_parse — lenient semi-structured parse (main.py:94-101,135-136):
    * from_json fast path + Python-literal UDF fallback, never throws.
    */
  private def parse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // parse once into a map column, then consume it twice — the expensive
    // alias is referenced by both outputs, so Catalyst keeps the projection
    // and the row is parsed once, not per consumer
    T(s, d, "events")
      .select(
        $"event_id",
        LenientJson.parsed(coalesce($"props", lit("{}"))).as("m"))
      .select(
        $"event_id",
        concat_ws(",", array_sort(map_keys($"m"))).as("keys"),
        element_at($"m", "k").as("k_val"))
      .orderBy("event_id")
  }

  /** q_parse_literal — the Python-dict-literal dialect of the reference's
    * lenient parser (main.py:94-101, the `ast.literal_eval` branch) under
    * the oracle. Both engines derive the same dict from `props`: Spark
    * renders it single-quoted with bare True/None keywords — a form the
    * codegen'd from_json fast path rejects (allowSingleQuotes covers the
    * quotes, but `True`/`None` are not JSON tokens), so every row is forced
    * through the LenientJson UDF fallback; DuckDB renders the equivalent
    * strict-JSON object. A break in normalizePyLiteral turns the Spark side
    * into {} rows and fails the hash.
    */
  private def parseLiteral(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        $"event_id",
        concat(
          lit("{'k': "),
          coalesce(get_json_object($"props", "$.k"), lit("0")),
          lit(", 'flag': True, 'note': None}")).as("py"))
      .select($"event_id", LenientJson.parsed($"py").as("m"))
      .select(
        $"event_id",
        concat_ws(",", array_sort(map_keys($"m"))).as("keys"),
        element_at($"m", "k").as("k_val"),
        element_at($"m", "flag").as("flag_val"))
      .orderBy("event_id")
  }

  /** q_extract_nested — named-field extraction out of the JSON blob
    * (main.py:137-139), typed on the way out.
    */
  private def extractNested(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        $"event_id",
        get_json_object($"props", "$.k").as("k_str"),
        get_json_object($"props", "$.k").cast("bigint").as("k_num"))
      .orderBy("event_id")
  }

  /** q_project_rename — fixed-shape projection + rename
    * (main.py:134-141,164-172).
    */
  private def projectRename(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        $"event_id",
        $"user_id".as("account_id"),
        $"ts".as("event_timestamp"),
        $"event_type".as("attempt_type"),
        $"props".as("passback_params"))
      .orderBy("event_id")
  }

  /** q_cast_bool — null-preserving truthiness cast (main.py:142-145):
    * NULL→NULL, else bool(x).
    */
  private def castBool(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        $"event_id",
        when($"value".isNotNull, $"value" =!= lit(0d)).as("is_correct"))
      .orderBy("event_id")
  }

  /** Validation ladder predicate (main.py:146-163): required keys present,
    * categorical domain respected, payload parseable-shaped.
    */
  private def validCond(s: SparkSession) = {
    import s.implicits._
    $"user_id".isNotNull && $"ts".isNotNull &&
    $"event_type".isNotNull && length($"event_type") > 0 &&
    $"event_type".isin("click", "error", "purchase", "signup", "view") &&
    $"value".isNotNull && $"value" >= 0d && $"props".isNotNull
  }

  private val ValidSql =
    "user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL " +
      "AND length(event_type) > 0 AND event_type IN " +
      "('click','error','purchase','signup','view') " +
      "AND value IS NOT NULL AND value >= 0 AND props IS NOT NULL"

  /** q_filter_valid — rows passing the ladder (main.py:146-163). */
  private def filterValid(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(validCond(s)).orderBy("event_id")

  /** q_filter_rejects — the observable reject side-channel: complement of
    * q_filter_valid (the reference logs each reject, main.py:147-162).
    */
  private def filterRejects(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(!coalesce(validCond(s), lit(false))).orderBy("event_id")

  /** q_dedup_key — first-writer-wins key dedup, the reference's idempotent
    * upsert (ON CONFLICT DO NOTHING, main.py:192-202). row_number (not
    * dropDuplicates) so the survivor is deterministic; at scale this is one
    * hash-partitioned shuffle on the key.
    */
  private def dedupKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"ts").orderBy($"event_id")
    T(s, d, "events")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn")
      .orderBy("event_id")
  }

  /** Deterministic 0..99 bucket from the md5-derived 32-bit key hash: the
    * sampling/split primitive of a training-data pipeline. Unlike
    * rand()-based sampling this is reproducible across engines, task
    * retries, and reruns — membership is a pure function of the key — and
    * it needs no RNG state in tasks.
    */
  private def hashBucket = pmod(Hashing.h32(col("event_id").cast("string")), lit(100L))

  private val HashBucketSql =
    s"${Hashing.h32Sql("CAST(event_id AS VARCHAR)")} % 100"

  /** q_sample_hash — reproducible 5% downsample by key hash. */
  private def sampleHash(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(hashBucket < 5).orderBy("event_id")

  /** q_split_assign — the train/valid/test split (80/10/10 by key hash),
    * reported as per-split counts. The split column is what a pipeline
    * writes (or partitions by); the counts keep the oracle output compact.
    */
  private def splitAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        when(hashBucket < 80, "train")
          .when(hashBucket < 90, "valid")
          .otherwise("test")
          .as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n"))
      .orderBy("split")
  }

  /** q_sheet_export — the raw-data grid sink (main.py:254-264): header row
    * from the column names + stringified data rows, stable order. The
    * engine-side semantics of the sheet overwrite; the actual write is
    * `df.write.mode("overwrite").option("header", true).csv`.
    */
  private def sheetExport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = T(s, d, "events").select(
      ($"event_id" + 1).as("rn"),
      $"event_id".cast("string").as("c_event_id"),
      $"user_id".cast("string").as("c_user_id"),
      $"event_type".as("c_event_type"))
    val header = s
      .range(1)
      .select(
        lit(0L).as("rn"),
        lit("event_id").as("c_event_id"),
        lit("user_id").as("c_user_id"),
        lit("event_type").as("c_event_type"))
    header.unionByName(grid).orderBy("rn")
  }

  /** q_profile_table — per-column profiling of the ingest table (the
    * ANALYZE / stats-collection primitive a warehouse runs before choosing
    * plans): row count, null count, exact distinct count, min/max. Every
    * column is profiled through its canonical string rendering (epoch-µs
    * for the timestamp, fixed-scale decimal for the double — the two
    * renderings that are bit-identical cross-engine), so one uniform
    * unpivoted (col_name, v) stream feeds ONE aggregate: the distinct
    * count shuffles on the distributed (col_name, v) key space, never a
    * per-column global expand — at 100 TB this is the difference between a
    * stats pass and six. min/max are byte-order over the rendering
    * (UTF-8 byte order = codepoint order in both engines).
    */
  private def profileTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rendered = Seq(
      "event_id" -> col("event_id").cast("string"),
      "ts" -> unix_micros(col("ts")).cast("string"),
      "user_id" -> col("user_id").cast("string"),
      "event_type" -> col("event_type"),
      "value" -> col("value").cast("decimal(18,6)").cast("string"),
      "props" -> col("props"))
    val pairs = rendered.map { case (n, c) =>
      struct(lit(n).as("col_name"), c.as("v"))
    }
    T(s, d, "events")
      .select(explode(array(pairs: _*)).as("p"))
      .select($"p.col_name".as("col_name"), $"p.v".as("v"))
      .groupBy($"col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when($"v".isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct($"v").as("n_distinct"),
        min($"v").as("min_v"),
        max($"v").as("max_v"))
      .orderBy($"col_name")
  }

  private val ProfileSql =
    "WITH u AS (" +
      "SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS v FROM events " +
      "UNION ALL SELECT 'ts', CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR) FROM events " +
      "UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events " +
      "UNION ALL SELECT 'event_type', event_type FROM events " +
      "UNION ALL SELECT 'value', CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) FROM events " +
      "UNION ALL SELECT 'props', props FROM events) " +
      "SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
      "CAST(count(DISTINCT v) AS BIGINT) AS n_distinct, " +
      "min(v) AS min_v, max(v) AS max_v " +
      "FROM u GROUP BY col_name ORDER BY col_name"

  /** q_expect_constraints' row-level rules as (check name, violated):
    * the batch audit sums each predicate, and
    * [[StreamOps.liftExpectations]] tags each streamed row with the names
    * it violates.
    */
  private[graft] val RowRules: Seq[(String, Column)] = Seq(
    "null_user_id" -> col("user_id").isNull,
    "bad_event_type" ->
      !col("event_type").isin("click", "error", "purchase", "signup", "view"),
    "negative_value" -> (col("value") < 0d))

  /** q_expect_constraints — declarative data-quality expectations (the
    * Deequ / dbt-tests primitive a production pipeline gates loads on):
    * each constraint is evaluated distributedly and reports its violation
    * count — key uniqueness (count − distinct), not-null, domain
    * membership, value range, and cross-table referential integrity
    * (an anti-join count). Single-table checks fold into ONE aggregate
    * pass over events; the referential check is its own slim anti-join
    * (orderkey/custkey columns only). A load gate reads one tiny frame
    * and fails on any nonzero row.
    */
  private def expectConstraints(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the testdata satisfies every constraint, so (house style, cf.
    // q_text_redact) one synthetic violation per rule is unioned in —
    // each check provably fires and the expected output is all-ones
    val dirt = Seq(
      (1L, Option(1L), "click", 1.0d), // duplicates existing event_id 1
      (-1L, Option.empty[Long], "click", 1.0d), // null user_id
      (-2L, Option(1L), "hover", 1.0d), // outside the event_type domain
      (-3L, Option(1L), "click", -5.0d) // negative value
    ).toDF("event_id", "user_id", "event_type", "value")
    val ev = T(s, d, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
      .unionByName(dirt)
    val single = ev.select(
      (count(lit(1)) - countDistinct($"event_id")).as("dup_event_id") +:
        RowRules.map { case (name, violated) =>
          sum(when(violated, 1L).otherwise(0L)).as(name)
        }: _*)
    val names = "dup_event_id" +: RowRules.map(_._1)
    val unpivoted = single.select(
      explode(map(names.flatMap(n => Seq(lit(n), col(n))): _*))
        .as(Seq("check_name", "n_violations")))
    val orphanOrders = T(s, d, "orders")
      .select($"o_custkey")
      .unionByName(Seq(-99L).toDF("o_custkey")) // synthetic orphan key
      .join(T(s, d, "customer").select($"c_custkey"), $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orphan_order_custkey").as("check_name"), $"n_violations")
    unpivoted
      .unionByName(orphanOrders)
      .orderBy("check_name")
  }

  private val ExpectSql =
    "WITH ev AS (SELECT event_id, user_id, event_type, value FROM events " +
      "UNION ALL SELECT * FROM (VALUES " +
      "(CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'click', CAST(1.0 AS DOUBLE)), " +
      "(-1, NULL, 'click', 1.0), (-2, 1, 'hover', 1.0), (-3, 1, 'click', -5.0)) " +
      "AS t(event_id, user_id, event_type, value)), " +
      "s AS (SELECT CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS dup_event_id, " +
      "CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id, " +
      "CAST(sum(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS bad_event_type, " +
      "CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_value FROM ev), " +
      "o AS (SELECT o_custkey FROM orders UNION ALL SELECT CAST(-99 AS BIGINT)), " +
      "u AS (SELECT 'dup_event_id' AS check_name, dup_event_id AS n_violations FROM s " +
      "UNION ALL SELECT 'null_user_id', null_user_id FROM s " +
      "UNION ALL SELECT 'bad_event_type', bad_event_type FROM s " +
      "UNION ALL SELECT 'negative_value', negative_value FROM s " +
      "UNION ALL SELECT 'orphan_order_custkey', CAST(count(*) AS BIGINT) FROM o " +
      "WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) " +
      "SELECT check_name, n_violations FROM u ORDER BY check_name"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_src_scan",
      srcScan,
      Some(s"SELECT $EventCols FROM events ORDER BY event_id")),
    QueryDef("q_profile_table", profileTable, Some(ProfileSql)),
    QueryDef("q_expect_constraints", expectConstraints, Some(ExpectSql)),
    QueryDef(
      "q_window_7d",
      window7d,
      Some(
        s"SELECT $EventCols FROM events " +
          "WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' ORDER BY event_id")),
    QueryDef(
      "q_parse",
      parse,
      Some(
        "SELECT event_id, " +
          "array_to_string(list_sort(json_keys(props)), ',') AS keys, " +
          "json_extract_string(props, '$.k') AS k_val " +
          "FROM events ORDER BY event_id")),
    QueryDef(
      "q_parse_literal",
      parseLiteral,
      Some(
        "SELECT event_id, " +
          "array_to_string(list_sort(json_keys(j)), ',') AS keys, " +
          "json_extract_string(j, '$.k') AS k_val, " +
          "json_extract_string(j, '$.flag') AS flag_val FROM (" +
          "SELECT event_id, concat('{\"k\": ', " +
          "COALESCE(json_extract_string(props, '$.k'), '0'), " +
          "', \"flag\": true, \"note\": null}') AS j FROM events) " +
          "ORDER BY event_id")),
    QueryDef(
      "q_extract_nested",
      extractNested,
      Some(
        "SELECT event_id, json_extract_string(props, '$.k') AS k_str, " +
          "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num " +
          "FROM events ORDER BY event_id")),
    QueryDef(
      "q_project_rename",
      projectRename,
      Some(
        "SELECT event_id, user_id AS account_id, " +
          "CAST(ts AS TIMESTAMP) AS event_timestamp, " +
          "event_type AS attempt_type, props AS passback_params " +
          "FROM events ORDER BY event_id")),
    QueryDef(
      "q_cast_bool",
      castBool,
      Some(
        "SELECT event_id, " +
          "CASE WHEN value IS NOT NULL THEN value <> 0 END AS is_correct " +
          "FROM events ORDER BY event_id")),
    QueryDef(
      "q_filter_valid",
      filterValid,
      Some(
        s"SELECT $EventCols FROM events WHERE $ValidSql ORDER BY event_id")),
    QueryDef(
      "q_filter_rejects",
      filterRejects,
      Some(
        s"SELECT $EventCols FROM events " +
          s"WHERE NOT COALESCE($ValidSql, false) ORDER BY event_id")),
    QueryDef(
      "q_dedup_key",
      dedupKey,
      Some(
        s"SELECT $EventCols FROM events " +
          "QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP) " +
          "ORDER BY event_id) = 1 ORDER BY event_id")),
    QueryDef(
      "q_sample_hash",
      sampleHash,
      Some(
        s"SELECT $EventCols FROM events " +
          s"WHERE $HashBucketSql < 5 ORDER BY event_id")),
    QueryDef(
      "q_split_assign",
      splitAssign,
      Some(
        s"SELECT CASE WHEN $HashBucketSql < 80 THEN 'train' " +
          s"WHEN $HashBucketSql < 90 THEN 'valid' ELSE 'test' END AS split, " +
          "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY split")),
    QueryDef(
      "q_sheet_export",
      sheetExport,
      Some(
        "SELECT 0 AS rn, 'event_id' AS c_event_id, 'user_id' AS c_user_id, " +
          "'event_type' AS c_event_type " +
          "UNION ALL SELECT event_id + 1, CAST(event_id AS VARCHAR), " +
          "CAST(user_id AS VARCHAR), event_type FROM events ORDER BY rn"))
  )
}
