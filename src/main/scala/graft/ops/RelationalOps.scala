package graft.ops

import graft.{QueryDef, T, X}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier B — the delegated SQL surface (SURVEY §2): the reference stores and
  * aggregates in Postgres (/root/reference/main.py:192-211,278-288), so
  * engine parity means the full relational operator set. Everything here is
  * Catalyst built-ins; the value added is scale-conscious plan shape:
  * broadcast hints for dims, equi-keys extracted from range joins so the
  * join itself hash-partitions, decimal-exact money arithmetic.
  */
object RelationalOps {

  /** Exact revenue expression: decimal per-row, order-independent sum,
    * DOUBLE out (see [[graft.X]] rationale).
    */
  private val RevSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)"

  /** q_join_inner — shuffled hash/sort-merge equi-join: revenue per
    * customer. At scale this hash-partitions both sides on the key; AQE
    * picks broadcast if one side turns out small.
    */
  private def joinInner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "orders")
      .join(T(s, d, "customer"), $"o_custkey" === $"c_custkey", "inner")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("c_custkey")
  }

  /** q_join_broadcast — explicit broadcast of the 25-row dim: no shuffle of
    * the fact side at all (the plan must show BroadcastHashJoin).
    */
  private def joinBroadcast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "customer")
      .join(broadcast(T(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("total_acctbal"))
      .orderBy("n_name")
  }

  /** q_join_left — left outer + null-tolerant aggregation: customers
    * including those with no orders.
    */
  private def joinLeft(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "customer")
      .join(T(s, d, "orders"), $"o_custkey" === $"c_custkey", "left")
      .groupBy($"c_custkey")
      .agg(
        count($"o_orderkey").as("n_orders"),
        sum(coalesce($"o_totalprice", lit(0d)).cast("decimal(18,2)"))
          .cast("double")
          .as("total_spend"))
      .orderBy("c_custkey")
  }

  /** q_join_semi — EXISTS as a left-semi join (no right-side columns ever
    * materialize, so no dedup needed after).
    */
  private def joinSemi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "customer")
      .join(T(s, d, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy("c_custkey")
  }

  /** q_join_anti — NOT EXISTS as a left-anti join: the incremental-ingest /
    * idempotence primitive (cf. ON CONFLICT DO NOTHING, main.py:202).
    * Predicated on high-value orders so both branches are populated.
    */
  private def joinAnti(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "customer")
      .join(
        T(s, d, "orders").filter($"o_totalprice" > 300000d),
        $"c_custkey" === $"o_custkey",
        "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy("c_custkey")
  }

  /** q_join_range — theta join with an extracted equi-key: event pairs
    * within 1 hour per user. The user_id equi-condition is what lets Spark
    * hash-partition instead of doing a broadcast-nested-loop over
    * everything; the range predicate applies post-match.
    */
  private def joinRange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = T(s, d, "events").select($"event_id", $"user_id", $"ts")
    e.as("a")
      .join(
        e.as("b"),
        $"a.user_id" === $"b.user_id" &&
          $"a.event_id" < $"b.event_id" &&
          $"b.ts" >= $"a.ts" &&
          $"b.ts" <= $"a.ts" + expr("INTERVAL 1 HOUR"))
      .select(
        $"a.event_id".as("a_id"),
        $"b.event_id".as("b_id"),
        $"a.user_id".as("user_id"))
      .orderBy("a_id", "b_id")
  }

  /** q_multi_join — 4-table TPC-H-style chain: revenue by nation. Join
    * order left to Catalyst/CBO; nation is broadcast.
    */
  private def multiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "lineitem")
      .join(T(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(T(s, d, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(T(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(
          $"l_extendedprice".cast("decimal(18,2)") *
            (lit(1) - $"l_discount").cast("decimal(18,2)"))
          .cast("double")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  }

  /** q_multi_join2 — 6-table TPC-H Q9-style chain: revenue by supplier
    * nation × order year for a part-name slice of two regions. Exercises
    * every dimension table (part/supplier/nation/region). nation and region
    * are unconditionally tiny → explicit broadcast; part and supplier grow
    * with scale, so their join strategy is left to Catalyst/AQE (the
    * p_name filter is pushed to the part scan and typically makes the
    * filtered part side broadcast-able at runtime).
    */
  private def multiJoin2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val part = T(s, d, "part")
      .filter($"p_name".contains("red"))
      .select($"p_partkey")
    val supNation = T(s, d, "supplier")
      .join(broadcast(T(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(T(s, d, "region")), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name".isin("ASIA", "EUROPE"))
      .select($"s_suppkey", $"n_name")
    T(s, d, "lineitem")
      .join(T(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(part, $"l_partkey" === $"p_partkey")
      .join(supNation, $"l_suppkey" === $"s_suppkey")
      .groupBy($"n_name", year($"o_orderdate").as("o_year"))
      .agg(
        sum(
          $"l_extendedprice".cast("decimal(18,2)") *
            (lit(1) - $"l_discount").cast("decimal(18,2)"))
          .cast("double")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name", "o_year")
  }

  /** q_agg_sketch — the approximate aggregates a 100 TB report actually
    * runs: HyperLogLog++ distinct users and approximate quantiles of value
    * per event type. Both are mergeable sketches, so the aggregation stays
    * two-phase (map-side partials + one shuffle of constant-size state) no
    * matter the row count — the property exact distinct/percentile lack.
    *
    * Sketch internals are engine-specific, so raw estimates can't hash
    * against DuckDB; the emitted contract follows q_agg_sketch_merge's
    * pattern instead — exact oracle-checkable columns plus bound booleans
    * the oracle asserts literal-true, so the hash gate re-proves the
    * sketch error bounds every round: `hll_ok` (HLL++ estimate within
    * max(2, 5%) of exact distinct, ~2.5σ at rsd 0.02 — sparse mode is
    * exact at the test cardinalities), `p50_ok`/`p95_ok` (the
    * accuracy-1000 KLL-style quantile, rank error ≤ 0.001, lands inside
    * the exact ±0.02-rank bracket — a 20× margin). The exact companions
    * (countDistinct, exact percentile bracket) exist only to ARM the
    * contract at gate scale — the exact bracket is the sort-based
    * per-group aggregate q_agg_quantile documents, fine at the gate's
    * cardinalities and deliberately NOT the 100 TB path; the production
    * query at that scale is the sketch side alone ([[aggSketchRaw]]).
    * SketchSpec still bounds the raw estimates against exact directly.
    */
  private def aggSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The exact-distinct companion runs as its OWN aggregation (r18 opt):
    // mixed with the sketch aggregates in one agg, Spark's distinct
    // rewrite regroups level 1 by (event_type, user_id) and carries every
    // other aggregate's partial buffer — the ~400-word HLL state and
    // three percentile maps — PER USER through the exchange (416-column
    // shuffle rows, read in the plan), which is quadratic-ish waste at
    // any scale and the 100 TB anti-shape. Split, each side is clean
    // two-phase: sketches shuffle |types| constant-size buffers, the
    // exact count shuffles slim (type, user) keys, and the |types|-row
    // join is broadcast-sized. Same output, same oracle.
    // INVARIANT (ADVICE r18): event_type is non-null by the fixture
    // contract (events.event_type is a required enum column), so the
    // equi-join below loses no group vs the single-aggregation form — a
    // NULL event_type group would need a null-safe (<=>) join instead.
    val ev = T(s, d, "events")
    val exact = ev
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    ev
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct($"user_id", 0.02).as("au"),
        percentile_approx($"value", lit(0.5), lit(1000)).as("p50"),
        percentile_approx($"value", lit(0.95), lit(1000)).as("p95"),
        expr("percentile(value, array(0.48, 0.52, 0.93, 0.97))").as("exq"))
      .join(broadcast(exact), Seq("event_type"))
      .select(
        $"event_type",
        $"n",
        $"exact_users",
        (abs($"au" - $"exact_users") <=
          greatest(lit(2L), ($"exact_users".cast("double") * 0.05).cast("long")))
          .as("hll_ok"),
        ($"p50" >= $"exq"(0) && $"p50" <= $"exq"(1)).as("p50_ok"),
        ($"p95" >= $"exq"(2) && $"p95" <= $"exq"(3)).as("p95_ok"))
      .orderBy("event_type")
  }

  private val SketchSql =
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "count(DISTINCT user_id) AS exact_users, " +
      "true AS hll_ok, true AS p50_ok, true AS p95_ok " +
      "FROM events GROUP BY event_type ORDER BY event_type"

  /** The raw-estimate form of q_agg_sketch — what the production report
    * emits at 100 TB (sketches only, no exact companions); SketchSpec
    * bounds these estimates against exact directly, beside the registry
    * query's hash-checked contract columns.
    */
  private[graft] def aggSketchRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy($"event_type")
      .agg(
        approx_count_distinct($"user_id", 0.02).as("approx_users"),
        percentile_approx($"value", lit(0.5), lit(1000)).as("p50_value"),
        percentile_approx($"value", lit(0.95), lit(1000)).as("p95_value"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** q_agg_sketch_merge — sketch state as DATA, the reason sketches exist
    * at 100 TB: per-day HLL sketches (Datasketches binary state via
    * `hll_sketch_agg`, persistable as a parquet binary column) are
    * re-aggregated with `hll_union_agg` across days — the warehouse
    * rollup primitive: yesterday's sketches never recompute, a new day
    * unions in as constant-size state.
    *
    * What mergeability does and does NOT promise, measured: the union of
    * the day sketches sees the same value set as a whole-data sketch, but
    * the ESTIMATES need not match bitwise — Datasketches reads a
    * sparse-input union through the HIP estimator while a dense
    * direct-built sketch reads the composite estimator, so above sparse
    * cardinalities the two paths diverge within the sketch's own rsd
    * (observed at sf0.1: 1488 vs 1480-1499 on 1500 exact). Exact equality
    * IS guaranteed like-for-like (same day partitioning, either engine
    * mode — StreamingSketchSpec pins stream-built ≡ batch-built day
    * rollups). The contract emitted here is therefore bounded divergence:
    * merge_ok (merged within max(2, 2%) of the whole-data estimate —
    * far inside rsd, catches any real merge corruption) and err_ok
    * (merged within 5% of exact distinct, ~3σ at lgK=12) beside the
    * oracle-checkable exact columns, so the DuckDB hash gate re-proves
    * both bounds every round; SketchMergeSpec adds the parquet
    * persist/union round trip on the binary sketch column.
    */
  private def aggSketchMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = T(s, d, "events")
    val daily = ev
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(hll_sketch_agg($"user_id").as("sk"))
    val merged = daily
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("merged_users"))
    // exact-distinct split out of the sketch aggregation for the same
    // reason as q_agg_sketch (r18 opt): mixed, the distinct rewrite
    // carries the HLL partial buffer per (event_type, user_id) group.
    // Equi-join safe under the same non-null event_type fixture
    // invariant as q_agg_sketch (ADVICE r18).
    val wholeSk = ev
      .groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("whole_users"))
    val whole = wholeSk.join(
      ev.groupBy($"event_type").agg(countDistinct($"user_id").as("exact_users")),
      Seq("event_type"))
    merged
      .join(whole, "event_type")
      .select(
        $"event_type",
        $"n_days",
        $"exact_users",
        (abs($"merged_users" - $"whole_users") <=
          greatest(lit(2L), ($"whole_users".cast("double") * 0.02).cast("long")))
          .as("merge_ok"),
        (abs($"merged_users" - $"exact_users") <=
          greatest(lit(1L), ($"exact_users".cast("double") * 0.05).cast("long")))
          .as("err_ok"))
      .orderBy("event_type")
  }

  private val SketchMergeSql =
    "SELECT event_type, CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days, " +
      "count(DISTINCT user_id) AS exact_users, " +
      "true AS merge_ok, true AS err_ok " +
      "FROM events GROUP BY event_type ORDER BY event_type"

  /** q-digest compression factor: rank error ≤ LogU/k ≈ 0.4% per
    * compression (two compressions on the merge path ≈ 0.8%); the
    * contract booleans assert exactly this bound in rank space; kept
    * nodes ≤ 3k.
    */
  private[graft] val QdK = 4096

  /** q_agg_quantile_merge — QUANTILE sketch state as DATA, completing
    * the warehouse-rollup story q_agg_sketch_merge tells for distinct
    * counts: Spark persists HLL state as a binary column
    * (`hll_sketch_agg`/`hll_union_agg`) but exposes no mergeable
    * quantile state — `percentile_approx` recomputes from raw rows every
    * time. [[graft.expr.QDigest]] fills the gap with a DETERMINISTIC
    * q-digest (public algorithm, Shrivastava et al. SenSys'04): per-day
    * sketches build as a binary column (persistable to parquet —
    * QDigestSpec proves the round trip), re-aggregate associatively
    * across days via key-wise count sums (merge order provably cannot
    * change the bytes), and estimate with a PROVABLE ≤ LogU·n/k rank
    * error — and, unlike Spark's KLL or Datasketches' KLL/REQ, no
    * randomness anywhere, so every estimate is a pure function of the
    * input multiset (the oracle-checkability contract).
    *
    * Emitted shape is the sketch-family contract pattern: exact
    * oracle-checkable columns (event_type, n_days, n) + bound booleans
    * the DuckDB oracle asserts literal-true — p50_ok/p95_ok pin the
    * DAY-MERGED estimate's TRUE RANK inside the theoretical q-digest
    * bound ([[quantileRankChecks]] — rank space, because that is what
    * the sketch guarantees; value-space percentile brackets assume a
    * dense distribution), whole_ok pins the single whole-data sketch
    * the same way, so the hash gate re-proves build, merge, and
    * estimate error every round at both scales.
    *
    * Scale shape: both aggregations are mergeable two-phase (map-side
    * partials, constant-size shuffled state ≤ 3k nodes per group); the
    * exact rank counts are gate-scale companions exactly as in
    * q_agg_sketch (the production rollup at 100 TB reads yesterday's
    * persisted day sketches and unions new days in — O(days·k) work,
    * never a raw re-scan).
    */
  /** The events table in the sketch's integer-cents domain — cents via
    * decimal cast (half-up, the q_stat_corr idiom), no double arithmetic
    * anywhere.
    */
  private def quantileCents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      // NULL values must be absent, not counted-as-zero: the build
      // aggregator's scalaLong encoder would silently decode NULL to 0
      // cents and count it into n, while the exact rank companions (and
      // DuckDB's aggregates) skip nulls — a null-bearing corpus would
      // skew the digest without failing loudly (ADVICE r16).
      .where($"value".isNotNull)
      .select(
        $"ts",
        $"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v100"))
  }

  /** Per-(day, event_type) q-digest state — the frame that persists as
    * the rollup's parquet generation (binary `sk` column). Shared by the
    * in-session merge query and the served form's build.
    */
  private[graft] def quantileDaily(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val build = udaf(new graft.expr.QDigestBuildAgg(QdK), Encoders.scalaLong)
    quantileCents(s, d)
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(build($"v100").as("sk"))
  }

  /** The contract brackets live in RANK space, not value space (ADVICE
    * r16): the q-digest guarantees the estimate's TRUE RANK is within
    * logU·n/k of the target, but the returned node endpoint need not be
    * a data value — on a distribution with a sparse gap at the probed
    * quantile, a rank-correct estimate can sit between data points and
    * fail any value-space percentile_disc bracket. So the booleans
    * replay QDigestSpec's rank assertion on the data itself: count the
    * values ≤ estimate (and ≤ estimate−1, the bucket's lower edge) and
    * require both within target ± bound — all integer arithmetic, no
    * distribution-shape assumption. Bounds follow the spec: one
    * compression logU·(n/k + 1) for the whole-data sketch, the
    * day-merge path logU·(2n/k + n_days + 1).
    */
  /** One pass over the events with the (broadcast, ≤ |event types| rows)
    * estimate frame: per type, n and the conditional rank counts for
    * each estimate column present (e50/e95, optionally w50), plus the
    * integer targets and bounds. ONE scan arms every boolean.
    */
  private def quantileRankChecks(
      s: SparkSession,
      ev: DataFrame,
      ests: DataFrame): DataFrame = {
    import s.implicits._
    val wholeCols =
      if (ests.columns.contains("w50"))
        Seq(
          sum(when($"v100" <= $"w50", 1L).otherwise(0L)).as("rw50"),
          sum(when($"v100" < $"w50", 1L).otherwise(0L)).as("rw50b"))
      else Nil
    ev.join(broadcast(ests), "event_type")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        (Seq(
          max($"n_days").as("n_days"),
          sum(when($"v100" <= $"e50", 1L).otherwise(0L)).as("r50"),
          sum(when($"v100" < $"e50", 1L).otherwise(0L)).as("r50b"),
          sum(when($"v100" <= $"e95", 1L).otherwise(0L)).as("r95"),
          sum(when($"v100" < $"e95", 1L).otherwise(0L)).as("r95b")) ++
          wholeCols): _*)
      .withColumn("t50", expr("(n + 1) DIV 2"))
      .withColumn("t95", expr("(19 * n + 19) DIV 20"))
      .withColumn(
        "bnd",
        expr(s"${graft.expr.QDigest.LogU} * ((2 * n) DIV $QdK + n_days + 1)"))
  }

  private def aggQuantileMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val build = udaf(new graft.expr.QDigestBuildAgg(QdK), Encoders.scalaLong)
    val union = udaf(new graft.expr.QDigestMergeAgg(QdK), Encoders.BINARY)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    val ev = quantileCents(s, d)
    val merged = quantileDaily(s, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), union($"sk").as("msk"))
    val whole = ev
      .groupBy($"event_type")
      .agg(build($"v100").as("wsk"))
    val ests = merged
      .join(whole, "event_type")
      .select(
        $"event_type",
        $"n_days",
        est($"msk", lit(0.5)).as("e50"),
        est($"msk", lit(0.95)).as("e95"),
        est($"wsk", lit(0.5)).as("w50"))
    quantileRankChecks(s, ev, ests)
      .withColumn(
        "wbnd",
        expr(s"${graft.expr.QDigest.LogU} * (n DIV $QdK + 1)"))
      .select(
        $"event_type",
        $"n_days",
        $"n",
        ($"r50" >= $"t50" - $"bnd" && $"r50b" <= $"t50" + $"bnd").as("p50_ok"),
        ($"r95" >= $"t95" - $"bnd" && $"r95b" <= $"t95" + $"bnd").as("p95_ok"),
        ($"rw50" >= $"t50" - $"wbnd" && $"rw50b" <= $"t50" + $"wbnd")
          .as("whole_ok"))
      .orderBy("event_type")
  }

  private val QuantileMergeSql =
    "SELECT event_type, CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "true AS p50_ok, true AS p95_ok, true AS whole_ok " +
      "FROM events WHERE value IS NOT NULL GROUP BY event_type ORDER BY event_type"

  /** Dataset-keyed canonical day-sketch state — build-once-serve-many
    * ([[graft.index.GenLog.buildOnce]], the retrieval families' rule):
    * the per-(day, event_type) q-digest generation persists under the
    * shared index catalog, so every serve in the session reads the same
    * committed bytes and a concurrent second builder skips.
    */
  private[graft] def writeQuantileState(s: SparkSession, d: String): String = {
    val path = SimilarityOps.serveRoot(s, d) + "/qdigest"
    graft.index.GenLog.buildOnce(s, path) {
      quantileDaily(s, d)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/days")
    }
    path
  }

  /** The serve kernel: merged per-type quantile report from the
    * PERSISTED day-sketch state alone — raw events are never touched
    * (the rollup posture at 100 TB: O(days·k) state in, report out).
    */
  private[graft] def serveQuantile(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val union = udaf(new graft.expr.QDigestMergeAgg(QdK), Encoders.BINARY)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    T.parquet(s, s"$path/days")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), union($"sk").as("msk"))
      .select(
        $"event_type",
        $"n_days",
        est($"msk", lit(0.5)).as("p50_cents"),
        est($"msk", lit(0.95)).as("p95_cents"))
  }

  /** q_agg_quantile_served — the quantile rollup SERVED from persisted
    * state, completing the build/served symmetry the retrieval families
    * have: [[writeQuantileState]] commits the day sketches once through
    * the GenLog catalog (claims, markers, builds_run/skipped
    * accounting), [[serveQuantile]] answers from that state without
    * touching raw events. The exact companions joined here exist only to
    * ARM the hash contract at gate scale (the q_agg_sketch rule); the
    * production serve is [[serveQuantile]] alone, and QDigestSpec pins
    * serve ≡ the in-session merge path row-for-row.
    */
  private def aggQuantileServed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ests = serveQuantile(s, writeQuantileState(s, d))
      .select(
        $"event_type",
        $"n_days",
        $"p50_cents".as("e50"),
        $"p95_cents".as("e95"))
    quantileRankChecks(s, quantileCents(s, d), ests)
      .select(
        $"event_type",
        $"n_days",
        $"n",
        ($"r50" >= $"t50" - $"bnd" && $"r50b" <= $"t50" + $"bnd").as("p50_ok"),
        ($"r95" >= $"t95" - $"bnd" && $"r95b" <= $"t95" + $"bnd").as("p95_ok"))
      .orderBy("event_type")
  }

  private val QuantileServedSql =
    "SELECT event_type, CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "true AS p50_ok, true AS p95_ok " +
      "FROM events WHERE value IS NOT NULL GROUP BY event_type ORDER BY event_type"

  // ───────── the metrics-rollup state (the 14th maintained family) ─────────
  //
  // ONE state frame carries BOTH warehouse sketch families per
  // (day, event_type): the HLL user sketch (q_agg_sketch_merge's
  // primitive) and the q-digest value sketch (q_agg_quantile_merge's).
  // Both merge associatively, so the state lives the generation-log life
  // the retrieval indexes live: each ingest batch appends its OWN
  // committed generation (O(batch) work, base sketches never recomputed),
  // compaction re-merges same-day partials, and the merged
  // distinct/quantile report serves from maintained state alone.
  // StreamOps.RollupFamily wires this into the GenLog kernel;
  // StreamingRollupSpec pins serve ≡ the batch-built registry path at
  // every stage.

  /** One batch of raw events → its (day, event_type) sketch-state rows.
    * The canonical transform for every writer: the seed, each streamed
    * generation, and the registry split all call this, so state is
    * identical whichever path built it (partition-invariant: both
    * aggregates are exact-state builds).
    */
  private[graft] def rollupStateFrom(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val build = udaf(new graft.expr.QDigestBuildAgg(QdK), Encoders.scalaLong)
    events
      .where($"value".isNotNull) // the quantileCents rule: NULL is absent, not 0
      .select(
        to_date($"ts").as("day"),
        $"event_type",
        $"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v100"))
      .groupBy($"day", $"event_type")
      .agg(
        hll_sketch_agg($"user_id").as("hll"),
        build($"v100").as("qd"))
  }

  private[graft] def writeRollupStateFrom(
      s: SparkSession, events: DataFrame, path: String): Unit =
    rollupStateFrom(s, events)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)

  /** The merged rollup report from persisted state alone — raw events
    * never touched (O(days·k) state in, report out): per event type, the
    * exact day and row counts (total mass rides IN each digest, so n is
    * EXACT — conservation through any merge shape), the HLL distinct-user
    * estimate, and the q-digest p50/p95. countDistinct(day), not
    * count(1): a day may be split across generations until compaction
    * re-merges it, and day-count must not depend on generation shape.
    */
  private[graft] def serveRollup(s: SparkSession, paths: Seq[String]): DataFrame = {
    import s.implicits._
    val union = udaf(new graft.expr.QDigestMergeAgg(QdK), Encoders.BINARY)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    val mass = udf((sk: Array[Byte]) => graft.expr.QDigest.counts(sk).getOrElse(0L, 0L))
    paths
      .map(p => T.parquet(s, p))
      .reduce(_ unionByName _)
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

  /** The TIME-SLICED rollup report from the same maintained state: one
    * row per (day, event_type) — same-day partials from different
    * generations merge here (associative unions), so the daily view is
    * exact whatever the arrival shape. The per-type report
    * ([[serveRollup]]) and this daily view are two reads of ONE state;
    * neither touches raw events.
    */
  private[graft] def serveRollupDaily(s: SparkSession, paths: Seq[String]): DataFrame = {
    import s.implicits._
    val union = udaf(new graft.expr.QDigestMergeAgg(QdK), Encoders.BINARY)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    val mass = udf((sk: Array[Byte]) => graft.expr.QDigest.counts(sk).getOrElse(0L, 0L))
    paths
      .map(p => T.parquet(s, p))
      .reduce(_ unionByName _)
      .groupBy($"day", $"event_type")
      .agg(
        hll_sketch_estimate(hll_union_agg($"hll")).as("users"),
        union($"qd").as("msk"))
      .select(
        $"day",
        $"event_type",
        mass($"msk").as("n"),
        $"users",
        est($"msk", lit(0.5)).as("p50_cents"),
        est($"msk", lit(0.95)).as("p95_cents"))
  }

  /** q_agg_quantile_incr — INCREMENTAL rollup maintenance, the
    * warehouse-side sibling of q_index_bm25_incr / q_dedup_incr: the
    * newest ~10% of DAYS are today's ingest; the base generation stands
    * in for yesterday's persisted day sketches. The batch writes its OWN
    * generation (O(batch) build; base sketch files never rewritten or
    * re-read) and the report serves merge-on-read over both generations
    * through [[serveRollup]]. The oracle is the FULL-corpus rollup, so
    * the hash gate re-proves merge-on-read ≡ single rebuilt state every
    * round. Contract columns (gate-scale companions, the q_agg_sketch
    * rule — the production serve is [[serveRollup]] alone): n_days / n /
    * exact_users exact; mass_ok pins the STATE-side n (digest mass sums)
    * to the raw count — exact conservation through the generation split;
    * hll_ok bounds the merged HLL within 5% of exact distinct; p50_ok /
    * p95_ok are the rank-space q-digest bounds ([[quantileRankChecks]]
    * rationale).
    */
  private def aggQuantileIncr(s: SparkSession, d: String): DataFrame = {
    val (build, serve) = quantileIncrSplit(s, d)
    build()
    serve()
  }

  private[graft] def quantileIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val root = SimilarityOps.serveRoot(s, d) + "/rollupincr"
    val build = () => {
      graft.index.GenLog.buildOnce(s, root) {
        val ev = T(s, d, "events")
        val thrDf = ev.agg(
          date_add(
            min(to_date($"ts")),
            expr("(datediff(max(to_date(ts)), min(to_date(ts))) * 9) div 10")
              .cast("int")).as("thr"))
        val withThr = ev.crossJoin(broadcast(thrDf))
        writeRollupStateFrom(
          s, withThr.filter(to_date($"ts") <= $"thr").drop("thr"), s"$root/base")
        writeRollupStateFrom(
          s, withThr.filter(to_date($"ts") > $"thr").drop("thr"), s"$root/inc")
      }
      ()
    }
    val serve = () => {
      val served = serveRollup(s, Seq(s"$root/base", s"$root/inc"))
        .select(
          $"event_type",
          $"n_days",
          $"n".as("n_state"),
          $"users",
          $"p50_cents".as("e50"),
          $"p95_cents".as("e95"))
      // one pass over the raw events arms every contract column (the
      // quantileRankChecks shape plus the distinct-user and mass
      // companions this family adds)
      val evu = T(s, d, "events")
        .where($"value".isNotNull)
        .select(
          $"event_type",
          $"user_id",
          ($"value".cast("decimal(18,2)") * 100).cast("long").as("v100"))
      evu
        .join(broadcast(served), "event_type")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"user_id").as("exact_users"),
          max($"n_days").as("n_days"),
          max($"n_state").as("n_state"),
          max($"users").as("hll_users"),
          sum(when($"v100" <= $"e50", 1L).otherwise(0L)).as("r50"),
          sum(when($"v100" < $"e50", 1L).otherwise(0L)).as("r50b"),
          sum(when($"v100" <= $"e95", 1L).otherwise(0L)).as("r95"),
          sum(when($"v100" < $"e95", 1L).otherwise(0L)).as("r95b"))
        .withColumn("t50", expr("(n + 1) DIV 2"))
        .withColumn("t95", expr("(19 * n + 19) DIV 20"))
        .withColumn(
          "bnd",
          expr(s"${graft.expr.QDigest.LogU} * ((2 * n) DIV $QdK + n_days + 1)"))
        .select(
          $"event_type",
          $"n_days",
          $"n",
          $"exact_users",
          ($"n_state" === $"n").as("mass_ok"),
          (abs($"hll_users" - $"exact_users") <=
            greatest(lit(1L), ($"exact_users".cast("double") * 0.05).cast("long")))
            .as("hll_ok"),
          ($"r50" >= $"t50" - $"bnd" && $"r50b" <= $"t50" + $"bnd").as("p50_ok"),
          ($"r95" >= $"t95" - $"bnd" && $"r95b" <= $"t95" + $"bnd").as("p95_ok"))
        .orderBy("event_type")
    }
    (build, serve)
  }

  private val QuantileIncrSql =
    "SELECT event_type, CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days, " +
      "CAST(count(*) AS BIGINT) AS n, count(DISTINCT user_id) AS exact_users, " +
      "true AS mass_ok, true AS hll_ok, true AS p50_ok, true AS p95_ok " +
      "FROM events WHERE value IS NOT NULL GROUP BY event_type ORDER BY event_type"

  /** q_agg_quantile_wide — the WIDE-domain q-digest posture in the
    * registry (verdict-r17 #4: it lived only in QDigestPropertySpec).
    * The sketched value is the event's µs-within-day
    * (unix_micros(ts) mod 86.4e9 — a latency-like integer domain under
    * 2^37, far past what an exact leaf buffer can ride), so the build
    * aggregator runs at logU = 37 with the in-reduce re-compression cap
    * engaged: memory O(maxBuffer + 3k) per partial, and the DOCUMENTED
    * determinism trade — early compression points depend on partition
    * boundaries, so the kept node set (hence the estimate) is not
    * hashable. The contract therefore asserts in RANK space, which
    * survives the trade: count values ≤ estimate against the target
    * rank ± the compression-count corridor (C + 2)·logU·(n/k + 1) —
    * QDigestPropertySpec's corridor with C bounded by KEY CONSERVATION,
    * so no partition count appears anywhere (the bound must hold for
    * whatever partitioning a 1000-executor scan produces): a compression
    * fires only above maxBuffer and leaves ≤ 3k nodes, so it removes
    * ≥ (maxBuffer − 3k) keys while creating ≤ 3k parent keys; keys
    * otherwise enter only by leaf insertion (n total), hence
    * (maxBuffer − 3k)·C ≤ n + 3k·C ⟹ C ≤ n div (maxBuffer − 6k),
    * and +2 covers the final serialize compression with the +1 ceil
    * slack. Exact n plus literal-true booleans is the q_agg_sketch
    * oracle pattern; the corridor stays below the target rank at every
    * gate scale, so the booleans remain falsifiable.
    */
  private[graft] val WideLogU = 37
  private[graft] val WideMaxBuffer = 32768

  private def aggQuantileWide(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val build = udaf(
      new graft.expr.QDigestBuildAgg(QdK, WideLogU, WideMaxBuffer),
      Encoders.scalaLong)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    val ev = T(s, d, "events")
      .where($"ts".isNotNull) // the quantileCents NULL rule
      .select($"event_type", (unix_micros($"ts") % 86400000000L).as("vus"))
    val ests = ev
      .groupBy($"event_type")
      .agg(build($"vus").as("sk"))
      .select(
        $"event_type",
        est($"sk", lit(0.5)).as("e50"),
        est($"sk", lit(0.95)).as("e95"))
    ev.join(broadcast(ests), "event_type")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"vus" <= $"e50", 1L).otherwise(0L)).as("r50"),
        sum(when($"vus" < $"e50", 1L).otherwise(0L)).as("r50b"),
        sum(when($"vus" <= $"e95", 1L).otherwise(0L)).as("r95"),
        sum(when($"vus" < $"e95", 1L).otherwise(0L)).as("r95b"))
      .withColumn("t50", expr("(n + 1) DIV 2"))
      .withColumn("t95", expr("(19 * n + 19) DIV 20"))
      .withColumn("cb", expr(s"n DIV ${WideMaxBuffer - 6 * QdK}"))
      .withColumn(
        "bnd",
        ($"cb" + 2) * lit(WideLogU.toLong) * (expr(s"n DIV $QdK") + 1))
      .select(
        $"event_type",
        $"n",
        ($"r50" >= $"t50" - $"bnd" && $"r50b" <= $"t50" + $"bnd").as("p50_ok"),
        ($"r95" >= $"t95" - $"bnd" && $"r95b" <= $"t95" + $"bnd").as("p95_ok"))
      .orderBy("event_type")
  }

  private val QuantileWideSql =
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "true AS p50_ok, true AS p95_ok " +
      "FROM events WHERE ts IS NOT NULL GROUP BY event_type ORDER BY event_type"

  /** q_agg_rollup_daily — the TIME-SLICED rollup report as an
    * oracle-checked registry face (verdict-r17 #2: [[serveRollupDaily]]
    * was spec-pinned but had no hash-gate row). The build deliberately
    * splits the events by event_id PARITY — every day lands in BOTH
    * generations — so the serve's same-day partial MERGE (the associative
    * unions [[StreamOps.RollupFamily]]'s fold relies on) is exactly what
    * the hash gate re-proves at both scales every round, not just what
    * StreamingRollupSpec pins once. Contract columns per
    * (day, event_type), the q_agg_sketch rule: n / exact_users exact;
    * mass_ok pins the state-side digest-mass n to the raw count (exact
    * conservation through the straddled merge); hll_ok bounds the merged
    * HLL within 5% of exact; p50_ok / p95_ok are rank-space q-digest
    * bounds with the merged-path envelope at 2 partials per day
    * (logU·(2n/k + 2 + 1), the [[quantileRankChecks]] rationale). The
    * production serve is [[serveRollupDaily]] alone; the raw pass exists
    * to ARM the gate.
    */
  private def aggRollupDaily(s: SparkSession, d: String): DataFrame = {
    val (build, serve) = rollupDailySplit(s, d)
    build()
    serve()
  }

  private[graft] def rollupDailySplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val root = SimilarityOps.serveRoot(s, d) + "/rollupdaily"
    val build = () => {
      graft.index.GenLog.buildOnce(s, root) {
        val ev = T(s, d, "events")
        writeRollupStateFrom(s, ev.filter($"event_id" % 2 === 0), s"$root/g0")
        writeRollupStateFrom(s, ev.filter($"event_id" % 2 === 1), s"$root/g1")
      }
      ()
    }
    val serve = () => {
      val served = serveRollupDaily(s, Seq(s"$root/g0", s"$root/g1"))
        .select(
          $"day",
          $"event_type",
          $"n".as("n_state"),
          $"users",
          $"p50_cents".as("e50"),
          $"p95_cents".as("e95"))
      val evu = T(s, d, "events")
        .where($"value".isNotNull)
        .select(
          to_date($"ts").as("day"),
          $"event_type",
          $"user_id",
          ($"value".cast("decimal(18,2)") * 100).cast("long").as("v100"))
      evu
        .join(broadcast(served), Seq("day", "event_type"))
        .groupBy($"day", $"event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"user_id").as("exact_users"),
          max($"n_state").as("n_state"),
          max($"users").as("hll_users"),
          sum(when($"v100" <= $"e50", 1L).otherwise(0L)).as("r50"),
          sum(when($"v100" < $"e50", 1L).otherwise(0L)).as("r50b"),
          sum(when($"v100" <= $"e95", 1L).otherwise(0L)).as("r95"),
          sum(when($"v100" < $"e95", 1L).otherwise(0L)).as("r95b"))
        .withColumn("t50", expr("(n + 1) DIV 2"))
        .withColumn("t95", expr("(19 * n + 19) DIV 20"))
        .withColumn(
          "bnd",
          expr(s"${graft.expr.QDigest.LogU} * ((2 * n) DIV $QdK + 3)"))
        .select(
          $"day",
          $"event_type",
          $"n",
          $"exact_users",
          ($"n_state" === $"n").as("mass_ok"),
          (abs($"hll_users" - $"exact_users") <=
            greatest(lit(1L), ($"exact_users".cast("double") * 0.05).cast("long")))
            .as("hll_ok"),
          ($"r50" >= $"t50" - $"bnd" && $"r50b" <= $"t50" + $"bnd").as("p50_ok"),
          ($"r95" >= $"t95" - $"bnd" && $"r95b" <= $"t95" + $"bnd").as("p95_ok"))
        .orderBy($"day", $"event_type")
    }
    (build, serve)
  }

  private val RollupDailySql =
    "SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n, " +
      "count(DISTINCT user_id) AS exact_users, " +
      "true AS mass_ok, true AS hll_ok, true AS p50_ok, true AS p95_ok " +
      "FROM events WHERE value IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"

  /** q_agg_topk — per-group top-k via the custom mergeable
    * [[graft.expr.TopKAgg]] aggregator (TypedColumn path): bounded k-pair
    * state with map-side partial aggregation, instead of the window form
    * that sorts and shuffles every row of every group. The (value desc,
    * id asc) ordering is total, so the result is a pure function of the
    * input set — oracle-checked against the window formulation.
    */
  private def aggTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val topk = udaf(
      new graft.expr.TopKAgg(3),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    T(s, d, "events")
      .groupBy($"event_type")
      .agg(topk($"value", $"event_id").as("top"))
      .select($"event_type", posexplode($"top").as(Seq("pos", "p")))
      .select(
        $"event_type",
        ($"pos" + 1).cast("bigint").as("rank"),
        $"p._1".as("value"),
        $"p._2".as("event_id"))
      .orderBy("event_type", "rank")
  }

  /** q_agg_group — hash aggregate with full stats per group. avg is
    * decimal-sum / count in doubles so both engines divide the same exact
    * values.
    */
  private def aggGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_v"),
        min($"value").as("min_v"),
        max($"value").as("max_v"))
      .withColumn("avg_v", $"sum_v" / $"n".cast("double"))
      .orderBy("event_type")
  }

  /** q_agg_rollup — day × type rollup with grouping_id to disambiguate
    * subtotal rows.
    */
  private def aggRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(to_date($"ts").as("d"), $"event_type")
      .rollup($"d", $"event_type")
      .agg(count(lit(1)).as("n"), grouping_id().cast("int").as("gid"))
      .orderBy($"d".asc_nulls_first, $"event_type".asc_nulls_first)
  }

  /** q_agg_cube — status × priority cube over orders. */
  private def aggCube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"),
        grouping_id().cast("int").as("gid"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** q_win_rank — ranking windows; row_number ordered by a unique composite
    * for determinism, rank/dense_rank over a coarser key where ties are
    * real but rank values are still order-independent.
    */
  private def winRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wDay = Window.partitionBy($"user_id").orderBy(to_date($"ts"))
    T(s, d, "events")
      .select(
        $"event_id",
        $"user_id",
        row_number().over(wSeq).as("attempt_no"),
        rank().over(wDay).as("day_rank"),
        dense_rank().over(wDay).as("day_dense_rank"))
      .orderBy("event_id")
  }

  /** q_win_lag — lag + running aggregates over an ordered per-user window
    * (the inter-attempt-gap analysis the reference's data model implies,
    * SURVEY §1.1).
    */
  private def winLag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    T(s, d, "events")
      .select(
        $"event_id",
        $"user_id",
        $"ts",
        lag($"ts", 1).over(w).as("prev_ts"),
        sum($"value".cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double")
          .as("running_value"),
        count(lit(1))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("running_n"))
      .withColumn(
        "gap_us",
        unix_micros($"ts") - unix_micros($"prev_ts"))
      .orderBy("event_id")
  }

  /** q_win_frame — explicit 3-row moving frame. The moving average is
    * decimal-sum-over-frame / count-over-frame: exact regardless of how
    * either engine combines frame members.
    */
  private def winFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w =
      Window.partitionBy($"user_id").orderBy($"ts", $"event_id").rowsBetween(-2, 0)
    T(s, d, "events")
      .select(
        $"event_id",
        $"user_id",
        sum($"value".cast("decimal(18,2)")).over(w).cast("double").as("mov_sum"),
        count(lit(1)).over(w).as("mov_n"))
      .withColumn("mov_avg", $"mov_sum" / $"mov_n".cast("double"))
      .orderBy("event_id")
  }

  /** q_sort_limit — global top-k: per-partition top-k then merge (Spark's
    * TakeOrderedAndProject), never a full global sort at scale.
    */
  private def sortLimit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"user_id")
      .limit(10)
  }

  /** q_set_union — union-distinct of two day-level activity sets. */
  private def setUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = T(s, d, "events")
    val purchases =
      e.filter($"event_type" === "purchase").select($"user_id", to_date($"ts").as("d"))
    val signups =
      e.filter($"event_type" === "signup").select($"user_id", to_date($"ts").as("d"))
    purchases.unionByName(signups).distinct().orderBy("user_id", "d")
  }

  /** q_set_intersect — users with both purchase and error activity. */
  private def setIntersect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = T(s, d, "events")
    e.filter($"event_type" === "purchase")
      .select($"user_id")
      .intersect(e.filter($"event_type" === "error").select($"user_id"))
      .orderBy("user_id")
  }

  /** q_set_except — user-days with views but no purchases (day granularity
    * so both branches are populated).
    */
  private def setExcept(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = T(s, d, "events")
    e.filter($"event_type" === "view")
      .select($"user_id", to_date($"ts").as("d"))
      .except(
        e.filter($"event_type" === "purchase").select($"user_id", to_date($"ts").as("d")))
      .orderBy("user_id", "d")
  }

  /** q_join_asof — as-of join (for each purchase, the latest view at or
    * before it, per user): the point-in-time attribution primitive Spark
    * has no native operator for. Composed as ONE event-time window pass
    * instead of a join: both event kinds share a single user_id shuffle,
    * views sort before purchases at equal ts (realizing "at or before"),
    * and last(ignoreNulls) carries the most recent view time forward. At
    * scale that is strictly better than the sort-merge-with-inequality a
    * dedicated as-of operator would run — same shuffle, no join state —
    * so composition wins over a custom SparkPlan here (charter order (a)).
    * Oracle: DuckDB's native ASOF LEFT JOIN over the same µs-cast inputs.
    */
  private def joinAsof(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    asofOf(
      T(s, d, "events")
        .filter($"event_type".isin("view", "purchase"))
        .select($"event_id", $"user_id", $"ts", $"event_type"))
  }

  /** The as-of kernel over an explicit (event_id, user_id, ts,
    * event_type ∈ {view, purchase}) frame — split out so
    * AsofPropertySpec can drive it over generated tie-heavy streams.
    */
  private[graft] def asofOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val w = Window
      .partitionBy($"user_id")
      .orderBy(
        $"ts",
        when($"event_type" === "view", 0).otherwise(1),
        $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn(
        "last_view_ts",
        last(when($"event_type" === "view", $"ts"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"last_view_ts")
      .orderBy("event_id")
  }

  private val AsofSql =
    "WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts " +
      "FROM events WHERE event_type = 'purchase'), " +
      "v AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts " +
      "FROM events WHERE event_type = 'view') " +
      "SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts " +
      "FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts " +
      "ORDER BY event_id"

  /** q_agg_quantile — exact discrete percentiles per group
    * (percentile_disc): p50/p95/p99 of event value, the latency/size
    * distribution report of a data pipeline. DISC (an actual element of
    * the set, no interpolation arithmetic) keeps the result bit-identical
    * cross-engine where CONT's IEEE interpolation would not be. At scale
    * exact percentiles are a sort-based aggregate per group; the
    * approximate path for wide cardinalities is q_agg_sketch.
    */
  private def aggQuantile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy($"event_type")
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("p99"))
      .orderBy("event_type")
  }

  private val QuantileSql =
    "SELECT event_type, quantile_disc(value, 0.5) AS p50, " +
      "quantile_disc(value, 0.95) AS p95, quantile_disc(value, 0.99) AS p99 " +
      "FROM events GROUP BY event_type ORDER BY event_type"

  /** q_win_dist — distribution window functions (ntile / percent_rank /
    * cume_dist): the quantile-bucketing view of a ranking window, e.g.
    * "which quartile of per-type value is this event in". One shuffle on
    * the partition key like every ranking window; the (value, event_id)
    * ordering is total, so rank-derived ratios are deterministic, and the
    * ratios themselves are single IEEE divisions of exact small integers —
    * bit-identical cross-engine (graft.X rules).
    */
  private def winDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Explicit NULLS LAST (DuckDB's ASC default): value has no nulls in
    // the testdata, but the window rank must not silently diverge from the
    // oracle if that ever changes (Spark's ASC default is NULLS FIRST).
    val w = Window.partitionBy($"event_type")
      .orderBy($"value".asc_nulls_last, $"event_id".asc_nulls_last)
    T(s, d, "events")
      .select(
        $"event_id",
        $"event_type",
        $"value",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("event_id")
  }

  private val WinDistSql =
    "SELECT event_id, event_type, value, ntile(4) OVER w AS quartile, " +
      "percent_rank() OVER w AS prank, cume_dist() OVER w AS cdist " +
      "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id) " +
      "ORDER BY event_id"

  /** q_agg_grouping_sets — the general form of rollup/cube: an explicit
    * grouping-set list ((status, priority), (status), (priority), ()),
    * i.e. exactly the marginals a report wants and nothing else — cube
    * computes 2^n combinations, grouping sets only the requested ones.
    * Spark expands the sets via a single Expand node feeding one hash
    * aggregate: one pass over the fact table at any scale. Alongside the
    * human-readable '(all)' sentinel, grouping() marker columns carry the
    * lossless answer to "rolled up or a real key?" — a NULL key or a
    * literal '(all)' value in the data could collide with the sentinel,
    * but never with the marker. Built on Dataset.groupingSets (Spark 4)
    * so the query stays a pure function with no session side effects.
    */
  private def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "orders")
      .groupingSets(
        Seq(
          Seq($"o_orderstatus", $"o_orderpriority"),
          Seq($"o_orderstatus"),
          Seq($"o_orderpriority"),
          Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"))
      .select(
        coalesce($"o_orderstatus", lit("(all)")).as("status"),
        coalesce($"o_orderpriority", lit("(all)")).as("priority"),
        $"g_status", $"g_priority", $"n", $"revenue")
      .orderBy("status", "priority")
  }

  private val GroupingSetsSql =
    "SELECT coalesce(o_orderstatus, '(all)') AS status, " +
      "coalesce(o_orderpriority, '(all)') AS priority, " +
      "CAST(GROUPING(o_orderstatus) AS INT) AS g_status, " +
      "CAST(GROUPING(o_orderpriority) AS INT) AS g_priority, " +
      "COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
      "FROM orders " +
      "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), " +
      "(o_orderstatus), (o_orderpriority), ()) " +
      "ORDER BY status, priority"

  /** q_sql_agg — the TPC-H Q1 pricing summary through the `spark.sql`
    * entry point: the same Catalyst plan the DataFrame API produces, but
    * declared in ANSI SQL with a named parameter (`:maxq`), proving the
    * SQL surface end-to-end — view resolution, parameter binding, decimal
    * arithmetic, multi-aggregate grouping. Analysis is eager, so the temp
    * view lives only for the `sql()` call and is dropped before returning:
    * the query function stays pure (no session state escapes). Decimal
    * casts follow the graft.X portability rules shared with the DataFrame
    * twin (q_join_inner's revenue idiom).
    */
  private def sqlAgg(s: SparkSession, d: String): DataFrame = {
    T(s, d, "lineitem").createOrReplaceTempView("graft_sql_lineitem")
    try
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
          |  COUNT(*) AS count_order
          |FROM graft_sql_lineitem
          |WHERE l_quantity <= :maxq
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
        Map("maxq" -> 45))
    finally s.catalog.dropTempView("graft_sql_lineitem")
  }

  private val SqlAggSql =
    "SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price, " +
      "CAST(COUNT(*) AS BIGINT) AS count_order " +
      "FROM lineitem WHERE l_quantity <= 45 " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"

  /** Gap after which a user's next event starts a new session (µs). 8 h
    * against the testdata's ~7 h median inter-event gap splits activity
    * into real multi-event sessions.
    */
  private val SessionGapUs = 8L * 3600 * 1000000L

  /** q_funnel_paths — gap-based sessionization + top conversion paths (the
    * funnel-analysis primitive): a session is a maximal run of a user's
    * events with < 8 h between neighbors (lag + running sum of
    * session-start flags); a session's path is its first three event
    * types in time order. ONE shuffle does all the heavy work: the lag
    * window, the running sum, and the per-session aggregate all reuse the
    * user_id hash partitioning (hash(user_id) co-locates every
    * (user_id, sess) group, so Catalyst inserts no second exchange); the
    * path ranking then aggregates ≤ |types|³ tiny rows. Timestamp math is
    * integer µs end-to-end — no interval arithmetic to diverge.
    */
  private def funnelPaths(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sessions = T(s, d, "events")
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .withColumn(
        "gap_us",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
      .withColumn(
        "new_sess",
        when($"gap_us".isNull || $"gap_us" > SessionGapUs, 1L).otherwise(0L))
      .withColumn(
        "sess",
        sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sess")
      .agg(
        count(lit(1)).as("n_events"),
        // collect in any order, sort by the (ts, event_id) struct prefix,
        // keep the first three types: order-insensitive to partial-agg
        // combining, so the result is retry/partition invariant
        concat_ws(
          ">",
          slice(
            transform(
              array_sort(
                collect_list(struct($"ts", $"event_id", $"event_type"))),
              x => x.getField("event_type")),
            1,
            3)).as("path"))
    sessions
      .groupBy($"path")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum($"n_events").as("n_events"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(20)
  }

  private val FunnelSql =
    "WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events), " +
      "g AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us FROM e), " +
      s"s AS (SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs " +
      "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM g), " +
      "p AS (SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n_events, " +
      "array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 3), '>') AS path " +
      "FROM s GROUP BY user_id, sess) " +
      "SELECT path, CAST(count(*) AS BIGINT) AS n_sessions, " +
      "CAST(sum(n_events) AS BIGINT) AS n_events " +
      "FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20"

  /** q_cohort_retention — first-touch cohort analysis (the product-
    * analytics retention triangle): each user's cohort is the day of
    * their first event; each (cohort day, day offset) cell counts the
    * distinct users still active that many days later. The first-touch
    * day comes from a min-over-user window rather than an agg + self-join,
    * so the heavy side shuffles ONCE on user_id; the distinct-user count
    * then aggregates ≤ |days|² tiny cells. Day arithmetic is integer
    * date-diffs — no date truncation semantics to diverge cross-engine.
    * (Day granularity matches the testdata's 30-day span; a production
    * deployment would bucket to weeks by integer-dividing the offsets.)
    */
  private def cohortRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
    T(s, d, "events")
      .select($"user_id", to_date($"ts").as("day"))
      .withColumn("cohort_day", min($"day").over(w))
      .select(
        datediff($"cohort_day", lit("2024-01-01").cast("date"))
          .cast("long")
          .as("cohort_day"),
        datediff($"day", $"cohort_day").cast("long").as("day_offset"),
        $"user_id")
      .groupBy($"cohort_day", $"day_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  private val CohortSql =
    "WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events), " +
      "f AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM e) " +
      "SELECT CAST(date_diff('day', DATE '2024-01-01', cohort_day) AS BIGINT) AS cohort_day, " +
      "CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset, " +
      "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
      "FROM f GROUP BY 1, 2 ORDER BY cohort_day, day_offset"

  /** q_case_when — CASE WHEN categorization (main.py:282,285-286). */
  private def caseWhen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        $"event_id",
        $"event_type",
        when($"event_type".isin("purchase", "signup"), "conversion")
          .when($"event_type" === "error", "problem")
          .otherwise("engagement")
          .as("category"))
      .orderBy("event_id")
  }

  /** Histogram bucket geometry: [0, 500k) order totals in 20 equal bins. */
  private val HistLo = 0.0
  private val HistWidth = 25000.0
  private val HistBins = 20

  /** q_agg_histogram — fixed-width numeric histogram of order totals (the
    * distribution-profiling primitive behind every size/price/length
    * dashboard): bucket index by IEEE floor division, clamped into
    * [0, bins), with per-bucket count and exact decimal sum. One map-side
    * projection + one hash aggregate over ≤ bins+ε tiny groups — the
    * whole histogram costs one scan at any corpus size. The bucket index
    * is computed with the same `floor(x / width)` double arithmetic in
    * both engines (DuckDB has no `width_bucket`; floor-division is the
    * portable spelling and is exact for these magnitudes).
    */
  private def aggHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "orders")
      .select(
        least(
          greatest(floor($"o_totalprice" / HistWidth), lit(HistLo)),
          lit(HistBins - 1.0))
          .cast("long")
          .as("bucket"),
        $"o_totalprice")
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n"),
        X.dsum2($"o_totalprice").as("total"))
      .select(
        $"bucket",
        ($"bucket" * HistWidth).cast("double").as("bucket_lo"),
        $"n",
        $"total")
      .orderBy($"bucket")
  }

  private val HistogramSql =
    "WITH b AS (SELECT CAST(least(greatest(floor(o_totalprice / 25000.0), 0), 19) AS BIGINT) AS bucket, " +
      "o_totalprice FROM orders) " +
      "SELECT bucket, CAST(bucket * 25000.0 AS DOUBLE) AS bucket_lo, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM b GROUP BY 1, 2 ORDER BY bucket"

  /** q_stat_corr — per-group Pearson correlation (quantity vs price per
    * return flag) from EXACT decimal moments: Σx, Σy, Σx², Σy², Σxy are
    * all fixed-scale decimal sums (exact for 2-decimal inputs), cast to
    * double only at the end, where the correlation formula is pure IEEE
    * arithmetic (×, −, ÷, √) evaluated as the identical expression tree
    * in both engines — so the coefficient is bit-deterministic without a
    * rounding ladder, unlike the engines' native `corr`, whose streaming
    * co-moment updates are order-dependent. One hash aggregate computes
    * all five moments in a single pass (map-side partials); the same
    * degenerate-series guard as q_ts_anomaly (zero variance → NULL, not a
    * NaN the engines order differently). Agrees with native `corr` to
    * displayed precision (spec-pinned).
    *
    * Scale path: inputs pre-scale to exact integer cents (BIGINT), so
    * every per-row product is bounded by VALUE magnitude (≤ ~1e14 for
    * price²), not corpus size, and the moment sums accumulate in
    * decimal(38,0) (Spark) / HUGEINT (DuckDB) — 38 exact digits of
    * headroom, enough for Σy² at ~1e12 rows where the former
    * decimal(38,4) sum (34 integer digits, 4 wasted on scale) could
    * overflow to NULL under non-ANSI Spark. Pearson correlation is
    * scale-invariant, so the cent scaling cancels in the formula.
    */
  private def statCorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val x = ($"l_quantity".cast("decimal(18,2)") * 100).cast("long")
    val y = ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long")
    def m38(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val m = T(s, d, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        m38(x).as("sx"),
        m38(y).as("sy"),
        m38(x * x).as("sxx"),
        m38(y * y).as("syy"),
        m38(x * y).as("sxy"))
    val nd = $"n".cast("double")
    val vx = nd * $"sxx" - $"sx" * $"sx"
    val vy = nd * $"syy" - $"sy" * $"sy"
    m.select(
      $"l_returnflag",
      $"n",
      when($"n" > 1 && vx > 0 && vy > 0,
        (nd * $"sxy" - $"sx" * $"sy") / (sqrt(vx) * sqrt(vy)))
        .as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** q_stat_ttest — Welch's two-sample t over document lengths: does the
    * English sub-corpus's n_chars distribution differ from the rest? The
    * distribution-shift check a curation pipeline runs between a target
    * slice and the remainder (the inferential sibling of q_stat_corr's
    * association test). Welch, not pooled: corpus slices have no
    * equal-variance warrant.
    *
    * Determinism: both samples' moments come from ONE conditional
    * aggregate pass (count/Σx/Σx² per side via FILTER — map-side
    * combine, one row out, no join, no window); sums are exact
    * decimal(38,0) (Σx² ≤ n·max² ~ 1e20 at 100 TB — past BIGINT, inside
    * decimal/HUGEINT); each variance is cleared as
    * (n·Σx² − (Σx)²) / (n·(n−1)) with the numerator computed IN
    * decimal(38,0) — the products are ~equal 1e32-scale integers at
    * 100 TB, past double's 2^53 exact range, so an IEEE subtract would
    * cancel into noise; the exact difference is cast ONCE to double
    * (the oracle mirrors with HUGEINT, same 128-bit headroom);
    * t = (m₁−m₂)/√(v₁/n₁+v₂/n₂) and the Welch–Satterthwaite dof are the
    * same chained IEEE + sqrt ladder q_stat_corr's hash gate already
    * proves cross-engine.
    */
  private def statTtest(s: SparkSession, d: String): DataFrame =
    statTtestOf(T(s, d, "documents"))

  private[graft] def statTtestOf(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val en = $"lang" === "en"
    def m38(c: Column) = sum(c.cast("decimal(38,0)"))
    val x = $"n_chars"
    // square in decimal, not LONG — x² wraps past x ~ 3e9 under bigint
    // arithmetic (the oracle casts to HUGEINT before its multiply too)
    val xx = x.cast("decimal(19,0)") * x
    val m = docsDf.agg(
      count(when(en, 1)).as("n1"),
      m38(when(en, x)).as("sx1"),
      m38(when(en, xx)).as("sxx1"),
      count(when(!en, 1)).as("n2"),
      m38(when(!en, x)).as("sx2"),
      m38(when(!en, xx)).as("sxx2"))
    val n1d = $"n1".cast("double")
    val n2d = $"n2".cast("double")
    def d38(c: Column) = c.cast("decimal(38,0)")
    // the cancellation-prone numerator stays in exact decimal; ONE cast
    // to double after the subtract (see docstring)
    val v1 = (d38($"n1") * $"sxx1" - $"sx1" * $"sx1").cast("double") /
      (n1d * (n1d - 1))
    val v2 = (d38($"n2") * $"sxx2" - $"sx2" * $"sx2").cast("double") /
      (n2d * (n2d - 1))
    val se1 = v1 / n1d
    val se2 = v2 / n2d
    val ok = $"n1" > 1 && $"n2" > 1
    m.select(
      $"n1".as("n_en"),
      $"n2".as("n_other"),
      when($"n1" > 0, $"sx1".cast("double") / n1d).as("mean_en"),
      when($"n2" > 0, $"sx2".cast("double") / n2d).as("mean_other"),
      when(ok,
        X.r6(($"sx1".cast("double") / n1d - $"sx2".cast("double") / n2d) /
          sqrt(se1 + se2))).as("t_welch6"),
      // r6 both statistics: the dof ladder chains enough double ops that
      // the engines disagreed by 1 ulp raw - fixed-point is the contract
      when(ok,
        X.r6((se1 + se2) * (se1 + se2) /
          (se1 * se1 / (n1d - 1) + se2 * se2 / (n2d - 1)))).as("dof6"))
  }

  private val TtestSql = {
    // variance numerators cleared in HUGEINT (exact 128-bit, mirroring
    // the engine's decimal(38,0)), ONE cast to double after the subtract
    val v1 = "(CAST(CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1 AS DOUBLE)) / " +
      "(CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1))"
    val v2 = "(CAST(CAST(n2 AS HUGEINT) * sxx2 - sx2 * sx2 AS DOUBLE)) / " +
      "(CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1))"
    val se1 = s"$v1 / CAST(n1 AS DOUBLE)"
    val se2 = s"$v2 / CAST(n2 AS DOUBLE)"
    "WITH m AS (SELECT " +
      "CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n1, " +
      "sum(CAST(n_chars AS HUGEINT)) FILTER (WHERE lang = 'en') AS sx1, " +
      "sum(CAST(n_chars AS HUGEINT) * n_chars) FILTER (WHERE lang = 'en') AS sxx1, " +
      "CAST(count(*) FILTER (WHERE NOT lang = 'en') AS BIGINT) AS n2, " +
      "sum(CAST(n_chars AS HUGEINT)) FILTER (WHERE NOT lang = 'en') AS sx2, " +
      "sum(CAST(n_chars AS HUGEINT) * n_chars) FILTER (WHERE NOT lang = 'en') AS sxx2 " +
      "FROM documents) " +
      "SELECT n1 AS n_en, n2 AS n_other, " +
      "CASE WHEN n1 > 0 THEN CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS mean_en, " +
      "CASE WHEN n2 > 0 THEN CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS mean_other, " +
      "CASE WHEN n1 > 1 AND n2 > 1 THEN floor(" +
      s"(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt($se1 + $se2) " +
      "* 1e6 + 0.5) / 1e6 END AS t_welch6, " +
      "CASE WHEN n1 > 1 AND n2 > 1 THEN floor(" +
      s"($se1 + $se2) * ($se1 + $se2) / " +
      s"($se1 * $se1 / (CAST(n1 AS DOUBLE) - 1) + $se2 * $se2 / (CAST(n2 AS DOUBLE) - 1)) " +
      "* 1e6 + 0.5) / 1e6 END AS dof6 " +
      "FROM m"
  }

  private val CorrSql =
    "WITH c AS (SELECT l_returnflag, " +
      "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y " +
      "FROM lineitem), " +
      "m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx, " +
      "CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy, " +
      "CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx, " +
      "CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy, " +
      "CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy " +
      "FROM c GROUP BY 1) " +
      "SELECT l_returnflag, n, " +
      "CASE WHEN n > 1 AND CAST(n AS DOUBLE) * sxx - sx * sx > 0 " +
      "AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN " +
      "(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
      "(sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) END AS corr_qty_price " +
      "FROM m ORDER BY l_returnflag"

  /** 24 hours in microseconds: the trailing-window span. */
  private val DayUs = 86400000000L

  /** q_win_range — RANGE-frame window (value-based frame bounds, the
    * capability ROWS frames can't express): each event's trailing-24-hour
    * count and exact-decimal value sum per user. The frame is an integer
    * µs interval over `unix_micros(ts)` — RANGE over a numeric key is the
    * one formulation whose tie semantics (all peers of the current value
    * join the frame) and bounds arithmetic are identical cross-engine,
    * where interval-typed frames invite calendar edge cases. One user_id
    * window exchange does all the work at any scale; the per-row frame is
    * bounded by a day's events per user, not corpus size.
    */
  private def winRange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window
      .partitionBy($"user_id")
      .orderBy(unix_micros($"ts"))
      .rangeBetween(-DayUs, 0)
    T(s, d, "events")
      .select(
        $"event_id",
        $"user_id",
        count(lit(1)).over(w).as("n_24h"),
        sum($"value".cast("decimal(18,2)")).over(w).cast("double").as("sum_24h"))
      .orderBy($"event_id")
  }

  private val WinRangeSql =
    "SELECT event_id, user_id, CAST(count(*) OVER w AS BIGINT) AS n_24h, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_24h " +
      "FROM (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value FROM events) " +
      s"WINDOW w AS (PARTITION BY user_id ORDER BY tus RANGE BETWEEN $DayUs PRECEDING AND CURRENT ROW) " +
      "ORDER BY event_id"

  /** q_agg_listagg — ordered string aggregation (the warehouse LISTAGG /
    * string_agg surface): each user's distinct event types as one sorted
    * comma-joined string. Built as `collect_set → sort_array → array_join`
    * — order-insensitive to partial-agg combining, so the rendered string
    * is retry- and partition-invariant (a raw LISTAGG without WITHIN
    * GROUP ordering is not). State per group is bounded by the DISTINCT
    * value domain (|event types|), the only shape at which a
    * string-aggregation belongs in a 100 TB plan — unbounded LISTAGGs
    * want the q_index_inverted window-sample treatment instead.
    */
  private def aggListagg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy($"user_id")
      .agg(
        array_join(sort_array(collect_set($"event_type")), ",").as("types_used"),
        countDistinct($"event_type").as("n_types"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  private val ListaggSql =
    "SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_used, " +
      "CAST(count(DISTINCT event_type) AS BIGINT) AS n_types, " +
      "CAST(count(*) AS BIGINT) AS n_events " +
      "FROM events GROUP BY user_id ORDER BY user_id"

  /** q_stat_chisq — chi-square contingency table over (event type ×
    * ISO weekday): observed vs expected-under-independence counts plus
    * each cell's χ² contribution — the statistical-dependence screen an
    * analytics engine runs before trusting a segmentation. Everything
    * heavy happens in the first aggregate (one shuffle over the events
    * scan, |types|·7 cells out); the row/column/grand marginals are
    * window sums over that tiny frame, so no second pass over the data.
    * Portability: counts are exact integers, `expected` is one double
    * division of exact BIGINT products, and the contribution is
    * floor-rounded to 6 dp (graft.X.r6) — the documented cross-engine
    * rounding idiom — so the whole table hash-matches DuckDB.
    */
  private def statChisq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = T(s, d, "events")
      .select($"event_type", weekday($"ts").as("dow"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("obs"))
    val byType = Window.partitionBy($"event_type")
    val byDow = Window.partitionBy($"dow")
    // grand total as a one-row aggregate broadcast back (the q_ts_anomaly
    // idiom) instead of a partition-less window: the cell frame is bounded
    // (|types|·7) so the old window was harmless, but it logged WindowExec's
    // single-partition warning every run — this keeps the suite log
    // warning-free (a usable regression signal) and drops a Window node
    val expected =
      (sum($"obs").over(byType) * sum($"obs").over(byDow)).cast("double") /
        $"grand".cast("double")
    cells
      .crossJoin(broadcast(cells.groupBy().agg(sum($"obs").as("grand"))))
      .select(
        $"event_type",
        $"dow",
        $"obs",
        expected.as("expected"),
        X.r6(($"obs" - expected) * ($"obs" - expected) / expected)
          .as("contribution"))
      .orderBy($"event_type", $"dow")
  }

  private val ChisqSql =
    "WITH o AS (SELECT event_type, CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS INTEGER) AS dow, " +
      "CAST(count(*) AS BIGINT) AS obs FROM events GROUP BY 1, 2), " +
      "tot AS (SELECT CAST(sum(obs) AS BIGINT) AS grand FROM o), " +
      "r AS (SELECT event_type AS r_type, CAST(sum(obs) AS BIGINT) AS row_n FROM o GROUP BY 1), " +
      "c AS (SELECT dow AS c_dow, CAST(sum(obs) AS BIGINT) AS col_n FROM o GROUP BY 1) " +
      "SELECT o.event_type, o.dow, o.obs, " +
      "CAST(row_n * col_n AS DOUBLE) / CAST(grand AS DOUBLE) AS expected, " +
      "floor((CAST(o.obs AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / CAST(grand AS DOUBLE)) * " +
      "(CAST(o.obs AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / CAST(grand AS DOUBLE)) / " +
      "(CAST(row_n * col_n AS DOUBLE) / CAST(grand AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS contribution " +
      "FROM o CROSS JOIN tot JOIN r ON o.event_type = r.r_type JOIN c ON o.dow = c.c_dow " +
      "ORDER BY o.event_type, o.dow"

  /** q_join_fuzzy — edit-distance-1 fuzzy self-join on customer names via
    * SymSpell-style deletion neighborhoods: each name emits its L+1
    * one-char-deletion variants (plus itself), candidates are pairs
    * sharing a variant, and an exact `levenshtein ≤ 1` filter removes the
    * false positives (two different deletions meeting at the same
    * string). Losslessness is a theorem — a substitution pair shares the
    * both-sides deletion at the edited index, an indel pair shares the
    * original itself — and FuzzyJoinSpec re-proves it against the O(n²)
    * brute force. Why not prefix/suffix blocking: every c_name shares the
    * literal "Customer#" prefix, so a prefix block is a disguised cross
    * join; deletion variants are near-unique keys (max bucket 38 at
    * sf0.1), so the candidate join is skew-free BY CONSTRUCTION —
    * |rows|×(L+1) keys through one hash-shuffle at any scale. The
    * k_a < k_b guard keeps each pair once.
    *
    * Plan shape: the candidate join and the pair-dedup move ONLY
    * (key, variant) / (k_a, k_b) — 16-byte rows — and the ~1M candidates
    * deduplicate BEFORE names are fetched back by key (the slim-pairs +
    * fetch-back idiom the embedding dedup family uses); carrying the name
    * strings through the join and distinct instead costs ~8× the shuffle
    * bytes (measured: 4.5 s → 2.3 s warm at sf0.1).
    */
  private def joinFuzzy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fuzzyPairsOf(T(s, d, "customer"))
      .groupBy($"nat_a".as("c_nationkey"))
      .agg(
        count(lit(1)).as("n_pairs"),
        min(concat($"name_a", lit("|"), $"name_b")).as("example_pair"))
      .orderBy($"c_nationkey")
  }

  /** The SymSpell pair kernel over an explicit (c_custkey, c_nationkey,
    * c_name) frame: verified edit-distance-≤1 pairs (k_a < k_b) with
    * both names and side-a's nation — split out so FuzzyPropertySpec
    * can drive it over generated adversarial vocabularies.
    */
  private[graft] def fuzzyPairsOf(cust: DataFrame): DataFrame = {
    import cust.sparkSession.implicits._
    // empty-name guard: Spark's sequence(0, -1) infers step -1 and yields
    // [0, -1] (bogus variants) where DuckDB's generate_series(0, -1) is
    // empty — moot on c_name but a latent parity trap on free-form text,
    // so the zero-length branch degrades to the name itself explicitly
    def variants(name: Column): Column =
      array_distinct(
        concat(
          when(
            length(name) > 0,
            transform(
              sequence(lit(0), length(name) - 1),
              i => concat(
                name.substr(lit(1), i),
                name.substr(i + lit(2), length(name)))))
            .otherwise(array(name)),
          array(name)))
    // candidates meet on xxhash64(variant), not the variant string (r18
    // opt, guide §2.3 "narrower types"): the join key drops from a ~25-B
    // UTF8 string to 8 B and the join compare from bytewise to a long.
    // LOSSLESS by the same theorem as the deletion neighborhood itself —
    // equal variants always hash equal (no false negative), and a hash
    // collision only adds a candidate pair that the exact
    // `levenshtein ≤ 1` verify below already removes (FuzzyJoinSpec /
    // FuzzyPropertySpec re-prove pair-set equality vs brute force).
    val v = cust
      .select($"c_custkey", explode(variants($"c_name")).as("variant"))
      .select($"c_custkey", xxhash64($"variant").as("vh"))
    val pairs = v
      .select($"c_custkey".as("k_a"), $"vh")
      .join(v.select($"c_custkey".as("k_b"), $"vh"), Seq("vh"))
      .filter($"k_a" < $"k_b")
      .select($"k_a", $"k_b")
      .distinct()
    pairs
      .join(
        cust.select(
          $"c_custkey".as("k_a"), $"c_nationkey".as("nat_a"),
          $"c_name".as("name_a")),
        Seq("k_a"))
      .join(
        cust.select($"c_custkey".as("k_b"), $"c_name".as("name_b")),
        Seq("k_b"))
      .filter(levenshtein($"name_a", $"name_b") <= 1)
  }

  private val FuzzySql =
    "WITH v AS (SELECT c_custkey, c_nationkey, c_name, " +
      "unnest(list_distinct(list_append(" +
      "list_transform(generate_series(0, length(c_name) - 1), " +
      "i -> substr(c_name, 1, i) || substr(c_name, i + 2)), c_name))) AS variant " +
      "FROM customer), " +
      "p AS (SELECT DISTINCT a.c_custkey AS k_a, b.c_custkey AS k_b, " +
      "a.c_nationkey AS nat_a, a.c_name AS name_a, b.c_name AS name_b " +
      "FROM v a JOIN v b ON a.variant = b.variant AND a.c_custkey < b.c_custkey), " +
      "m AS (SELECT * FROM p WHERE levenshtein(name_a, name_b) <= 1) " +
      "SELECT nat_a AS c_nationkey, CAST(count(*) AS BIGINT) AS n_pairs, " +
      "min(concat(name_a, '|', name_b)) AS example_pair " +
      "FROM m GROUP BY 1 ORDER BY c_nationkey"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_join_inner",
      joinInner,
      Some(
        "SELECT c_custkey, c_name, COUNT(*) AS n_orders, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "GROUP BY c_custkey, c_name ORDER BY c_custkey")),
    QueryDef(
      "q_join_broadcast",
      joinBroadcast,
      Some(
        "SELECT n_name, COUNT(*) AS n_customers, " +
          "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal " +
          "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY n_name ORDER BY n_name")),
    QueryDef(
      "q_join_left",
      joinLeft,
      Some(
        "SELECT c_custkey, COUNT(o_orderkey) AS n_orders, " +
          "CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_spend " +
          "FROM customer LEFT JOIN orders ON o_custkey = c_custkey " +
          "GROUP BY c_custkey ORDER BY c_custkey")),
    QueryDef(
      "q_join_semi",
      joinSemi,
      Some(
        "SELECT c_custkey, c_name FROM customer c " +
          "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) " +
          "ORDER BY c_custkey")),
    QueryDef(
      "q_join_anti",
      joinAnti,
      Some(
        "SELECT c_custkey, c_name FROM customer c " +
          "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
          "AND o.o_totalprice > 300000) ORDER BY c_custkey")),
    QueryDef(
      "q_join_range",
      joinRange,
      Some(
        "SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id " +
          "FROM events a JOIN events b ON a.user_id = b.user_id " +
          "AND a.event_id < b.event_id " +
          "AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP) " +
          "AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR " +
          "ORDER BY a_id, b_id")),
    QueryDef(
      "q_multi_join",
      multiJoin,
      Some(
        s"SELECT n_name, $RevSql AS revenue, COUNT(*) AS n_lines " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY n_name ORDER BY n_name")),
    QueryDef(
      "q_multi_join2",
      multiJoin2,
      Some(
        "SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year, " +
          s"$RevSql AS revenue, COUNT(*) AS n_lines " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN part ON l_partkey = p_partkey " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation ON s_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey " +
          "WHERE p_name LIKE '%red%' AND r_name IN ('ASIA', 'EUROPE') " +
          "GROUP BY 1, 2 ORDER BY n_name, o_year")),
    QueryDef("q_agg_sketch", aggSketch, Some(SketchSql)),
    QueryDef("q_agg_sketch_merge", aggSketchMerge, Some(SketchMergeSql)),
    QueryDef("q_agg_quantile_merge", aggQuantileMerge, Some(QuantileMergeSql)),
    QueryDef("q_agg_quantile_served", aggQuantileServed, Some(QuantileServedSql)),
    QueryDef("q_agg_quantile_incr", aggQuantileIncr, Some(QuantileIncrSql)),
    QueryDef("q_agg_rollup_daily", aggRollupDaily, Some(RollupDailySql)),
    QueryDef("q_agg_quantile_wide", aggQuantileWide, Some(QuantileWideSql)),
    QueryDef(
      "q_agg_topk",
      aggTopk,
      Some(
        "SELECT event_type, rn AS rank, value, event_id FROM (" +
          "SELECT event_type, value, event_id, " +
          "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn " +
          "FROM events) WHERE rn <= 3 ORDER BY event_type, rank")),
    QueryDef(
      "q_agg_group",
      aggGroup,
      Some(
        "SELECT event_type, COUNT(*) AS n, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v, " +
          "MIN(value) AS min_v, MAX(value) AS max_v, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v " +
          "FROM events GROUP BY event_type ORDER BY event_type")),
    QueryDef(
      "q_agg_rollup",
      aggRollup,
      Some(
        "SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n, " +
          "CAST(GROUPING(CAST(ts AS DATE), event_type) AS INTEGER) AS gid " +
          "FROM events GROUP BY ROLLUP(CAST(ts AS DATE), event_type) " +
          "ORDER BY d NULLS FIRST, event_type NULLS FIRST")),
    QueryDef(
      "q_agg_cube",
      aggCube,
      Some(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
          "CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid " +
          "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
          "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")),
    QueryDef(
      "q_win_rank",
      winRank,
      Some(
        "SELECT event_id, user_id, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS attempt_no, " +
          "rank() OVER (PARTITION BY user_id ORDER BY CAST(ts AS DATE)) AS day_rank, " +
          "dense_rank() OVER (PARTITION BY user_id ORDER BY CAST(ts AS DATE)) AS day_dense_rank " +
          "FROM events ORDER BY event_id")),
    QueryDef(
      "q_win_lag",
      winLag,
      Some(
        "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, " +
          "lag(CAST(ts AS TIMESTAMP), 1) OVER w AS prev_ts, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER " +
          "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value, " +
          "COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n, " +
          "epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP), 1) OVER w) AS gap_us " +
          "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) " +
          "ORDER BY event_id")),
    QueryDef(
      "q_win_frame",
      winFrame,
      Some(
        "SELECT event_id, user_id, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum, " +
          "COUNT(*) OVER w AS mov_n, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS mov_avg " +
          "FROM events WINDOW w AS (PARTITION BY user_id " +
          "ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
          "ORDER BY event_id")),
    QueryDef(
      "q_sort_limit",
      sortLimit,
      Some(
        "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id " +
          "ORDER BY n DESC, user_id LIMIT 10")),
    QueryDef(
      "q_set_union",
      setUnion,
      Some(
        "SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'purchase' " +
          "UNION " +
          "SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'signup' " +
          "ORDER BY user_id, d")),
    QueryDef(
      "q_set_intersect",
      setIntersect,
      Some(
        "SELECT user_id FROM events WHERE event_type = 'purchase' " +
          "INTERSECT SELECT user_id FROM events WHERE event_type = 'error' " +
          "ORDER BY user_id")),
    QueryDef(
      "q_set_except",
      setExcept,
      Some(
        "SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'view' " +
          "EXCEPT SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'purchase' " +
          "ORDER BY user_id, d")),
    QueryDef(
      "q_case_when",
      caseWhen,
      Some(
        "SELECT event_id, event_type, " +
          "CASE WHEN event_type IN ('purchase','signup') THEN 'conversion' " +
          "WHEN event_type = 'error' THEN 'problem' " +
          "ELSE 'engagement' END AS category " +
          "FROM events ORDER BY event_id")),
    QueryDef("q_join_asof", joinAsof, Some(AsofSql)),
    QueryDef("q_agg_quantile", aggQuantile, Some(QuantileSql)),
    QueryDef("q_win_dist", winDist, Some(WinDistSql)),
    QueryDef("q_agg_grouping_sets", aggGroupingSets, Some(GroupingSetsSql)),
    QueryDef("q_funnel_paths", funnelPaths, Some(FunnelSql)),
    QueryDef("q_sql_agg", sqlAgg, Some(SqlAggSql)),
    QueryDef("q_cohort_retention", cohortRetention, Some(CohortSql)),
    QueryDef("q_agg_histogram", aggHistogram, Some(HistogramSql)),
    QueryDef("q_join_fuzzy", joinFuzzy, Some(FuzzySql)),
    QueryDef("q_stat_chisq", statChisq, Some(ChisqSql)),
    QueryDef("q_agg_listagg", aggListagg, Some(ListaggSql)),
    QueryDef("q_win_range", winRange, Some(WinRangeSql)),
    QueryDef("q_stat_corr", statCorr, Some(CorrSql)),
    QueryDef("q_stat_ttest", statTtest, Some(TtestSql))
  )
}
