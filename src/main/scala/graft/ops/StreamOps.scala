package graft.ops

import graft.{QueryDef, T, X}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier B-STREAM (SURVEY §2): the reference's run loop is a micro-batch
  * stream in disguise — a daily job re-extracting a 7-day overlapping
  * window with key-dedup at the sink (/root/reference/main.py:25,104-105,
  * 202) ≡ Structured Streaming's watermark + dropDuplicates + idempotent
  * sink. Queries here are the batch forms the harness verifies; the same
  * plans lift to readStream via [[lift]] (exercised in StreamingLiftSpec).
  */
object StreamOps {

  /** q_stream_tumble — tumbling 1-day event-time window (the daily report
    * cadence, main.py:288). window() is epoch-aligned so day windows equal
    * date_trunc in UTC.
    */
  private def streamTumble(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"), X.dsum2($"value").as("sum_value"))
      .select($"window.start".as("win_start"), $"event_type", $"n", $"sum_value")
      .orderBy("win_start", "event_type")
  }

  /** q_stream_slide — 7-day window sliding by 1 day (the rolling re-extract,
    * main.py:104-105): each event lands in 7 windows.
    */
  private def streamSlide(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .groupBy(window($"ts", "7 days", "1 day"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("users"))
      .select($"window.start".as("win_start"), $"n", $"users")
      .orderBy("win_start")
  }

  /** q_stream_session — 30-minute-gap sessionization via lag + cumulative
    * sum (batch form of session_window, SURVEY §2 B-STREAM).
    */
  private def streamSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))
    T(s, d, "events")
      .withColumn(
        "new_session",
        when(gapUs.isNull || gapUs > lit(1800000000L), 1).otherwise(0))
      .withColumn(
        "session_no",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_no")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"))
      .orderBy("user_id", "session_no")
  }

  /** q_stream_dedup — streaming-style dedup on a business key keeping the
    * earliest arrival (dropDuplicates semantics made deterministic,
    * cf. main.py:202).
    */
  private def streamDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w =
      Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    T(s, d, "events")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn")
      .orderBy("event_id")
  }

  /** q_stream_join — event-to-event attribution: each click joins every
    * view by the same user in the preceding hour (the classic two-stream
    * correlation a funnel report needs). The batch form is an equi-join on
    * user_id with the hour bound as a range predicate — Spark extracts the
    * equality key, so this is a hash-partitioned join, never a
    * nested-loop; the stream form ([[liftStreamJoin]]) is the identical
    * plan as a watermarked stream-stream interval join, where the same
    * range bound is what lets the state store evict a view one hour (plus
    * the late-data delay) after its event time.
    */
  private def streamJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    joinViewsClicks(
      T(s, d, "events").filter($"event_type" === "view"),
      T(s, d, "events").filter($"event_type" === "click"))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** The attribution join shape shared by the batch and stream forms:
    * columns renamed per side BEFORE the join (two selects of one source
    * with `.as` aliases can collide in Catalyst self-join resolution;
    * renamed projections never do).
    */
  private def joinViewsClicks(views: DataFrame, clicks: DataFrame): DataFrame = {
    import views.sparkSession.implicits._
    val v = views.select(
      $"user_id",
      $"event_id".as("view_id"),
      $"ts".as("view_ts"))
    val c = clicks.select(
      $"user_id".as("click_user"),
      $"event_id".as("click_id"),
      $"ts".as("click_ts"))
    v.join(
      c,
      $"user_id" === $"click_user" &&
        $"click_ts" >= $"view_ts" &&
        $"click_ts" <= $"view_ts" + expr("INTERVAL 1 HOUR"))
      // integer seconds (µs div): exact in both engines, no double division
      .select(
        $"user_id",
        $"view_id",
        $"click_id",
        expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000")
          .as("lag_sec"))
  }

  private val JoinSql =
    "SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id, " +
      "(epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))) " +
      "// 1000000 AS lag_sec " +
      "FROM events v JOIN events c ON v.user_id = c.user_id " +
      "AND v.event_type = 'view' AND c.event_type = 'click' " +
      "AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP) " +
      "AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR " +
      "ORDER BY v.user_id, view_id, click_id"

  /** readStream over an events-parquet directory with the generation-aware
    * ts handling of [[graft.T]] (ns→µs conversion for nano-stored files,
    * direct µs reads otherwise) and the reference's 7-day late-data
    * contract (withWatermark ≡ DAYS_BACK, SURVEY §0). Shared source for
    * every streaming lift.
    */
  def eventsStream(
      s: SparkSession,
      sourceDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // ONE batch read probes both the wire schema and the stored ts type
    // (the raw schema IS the wire schema: ts surfaces as LongType exactly
    // when the files store TIMESTAMP(NANOS) under nanosAsLong). Assumes
    // the directory is generation-homogeneous — all files share one
    // physical ts type, which a single wire schema requires anyway; a
    // mixed-generation feed must be split into homogeneous sources.
    val rawSchema = T.parquet(s, sourceDir).schema
    val tsStoredAsNanoLong =
      rawSchema("ts").dataType == org.apache.spark.sql.types.LongType
    val src = s.readStream.options(options).schema(rawSchema).parquet(sourceDir)
    val withTs =
      if (tsStoredAsNanoLong)
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else src
    withTs.withWatermark("ts", "7 days")
  }

  /** Streaming lift of the tumbling-window report: identical logic on a
    * readStream source. Used by the streaming spec; not part of the batch
    * harness.
    */
  def liftTumble(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, sourceDir)
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"event_type", $"n")
  }

  /** Streaming lift of the 7-day sliding window (the rolling re-extract,
    * main.py:104-105): each event contributes to 7 windows; watermark
    * bounds the open-window state to 14 days of windows.
    */
  def liftSlide(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, sourceDir)
      .groupBy(window($"ts", "7 days", "1 day"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"n")
  }

  /** Streaming lift of q_stream_dedup — the reference's exact sink
    * contract (dedup on business key under a 7-day late-data bound,
    * main.py:25,104-105,202): withWatermark + dropDuplicates. Which
    * physical row represents a key depends on arrival order (same as the
    * reference's first-writer-wins INSERT), so the lift contract is
    * key-set equality, not row equality.
    *
    * State note: the event-time column is not part of the dedup key, so
    * this state store grows with distinct keys — which is FAITHFUL to the
    * reference, whose dedup state is the entire sink table (INSERT ... ON
    * CONFLICT over all history). When the horizon-bounded contract is
    * acceptable instead, use `dropDuplicatesWithinWatermark` (the
    * [[liftDedupExact]] shape: state evicted as the watermark passes);
    * when exact all-history dedup must scale past executor memory, push
    * the state into the sink itself via foreachBatch + idempotent append
    * (the [[graft.ops.Sinks]] pattern StreamingPipelineSpec proves).
    */
  def liftDedup(s: SparkSession, sourceDir: String): DataFrame =
    eventsStream(s, sourceDir).dropDuplicates("user_id", "event_type")

  /** readStream over a documents-parquet directory: the continuous-ingest
    * form of the Tier C corpus. The testdata documents table carries no
    * timestamp, so `ingest_ts` is synthesized deterministically from
    * doc_id — it stands in for the fetch-time column a real crawl feed
    * carries, and exists solely so the watermark contract below is the one
    * a production ingest stream would run.
    */
  def docsStream(
      s: SparkSession,
      sourceDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val batchSchema =
      T(s, sourceDir.stripSuffix("/documents.parquet"), "documents").schema
    s.readStream
      .options(options)
      .schema(batchSchema)
      .parquet(sourceDir)
      .withColumn(
        "ingest_ts",
        timestamp_micros(lit(1704067200000000L) + $"doc_id" * 1000000L))
      .withWatermark("ingest_ts", "7 days")
  }

  /** Streaming lift of q_dedup_exact — content-hash dedup on a continuous
    * ingest feed: the same md5(text) shuffle key as the batch operator,
    * through `dropDuplicatesWithinWatermark`, which keeps the first arrival
    * per content hash and evicts a key's state once the watermark passes
    * its arrival + delay — bounded state at 100 TB/day, unlike a plain
    * dropDuplicates on a non-event-time key, whose state never drains.
    * Which physical row represents a hash is arrival-order-dependent
    * (exactly the batch first-writer-wins), so the lift contract is
    * key-set equality with batch q_dedup_exact (StreamingLiftDedupSessionSpec).
    */
  def liftDedupExact(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    docsStream(s, sourceDir)
      .withColumn("content_md5", md5($"text"))
      .dropDuplicatesWithinWatermark("content_md5")
  }

  /** Streaming lift of q_sample_mix — the training-mix gate on the
    * continuous ingest feed. The mixture predicate is a pure function of
    * the document key ([[CurationOps.mixPredicate]]), so the lift is
    * STATELESS: no state store, no watermark interaction, identical
    * selection whether a document arrives in a batch backfill or on the
    * stream — the property that lets one curation definition serve both.
    */
  def liftSampleMix(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    docsStream(s, sourceDir)
      .filter(CurationOps.mixPredicate)
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** Streaming lift of the corpus build — the production stages composed
    * on the continuous ingest feed: the full quality gate
    * ([[CurationOps.qualityGate]] — length, lexical diversity, and the
    * repetition signals) and the training-mix gate
    * ([[CurationOps.mixPredicate]]) are STATELESS predicates evaluated at
    * ingest; exact content dedup is `dropDuplicatesWithinWatermark` on
    * md5(text) (first arrival wins, state evicted at the late-data
    * horizon — bounded at any ingest rate); the split tag is a pure
    * function of doc_id. Emits curated survivor rows in append mode —
    * per-(split, lang) accounting is a downstream aggregate over the sink
    * (which is how a production feed runs it: the curated stream IS the
    * product; counters hang off it). Which physical row represents a
    * content hash is arrival-order-dependent, exactly like the batch
    * first-writer-wins — over an ordered single-file source the two
    * coincide, which is what StreamingCorpusSpec pins; the near-dup
    * closure stage is deliberately absent: a transitive global closure is
    * not a streaming operator, so production runs it as a periodic batch
    * compaction over the curated sink (q_pipeline_corpus2).
    */
  /** The curated SURVIVOR stream with full document columns — what a
    * composed continuous pipeline feeds its downstream maintenance legs
    * (incremental dedup, index generations, the lake sink): the same
    * gate ∧ mix → watermarked exact dedup → split composition as
    * [[liftCorpusPipeline]], keeping text/source so the consumers can
    * tokenize and hash.
    */
  def liftCuratedDocs(
      s: SparkSession,
      sourceDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val bucket = pmod(Hashing.h32($"doc_id".cast("string")), lit(100L))
    CurationOps
      .qualityGate(docsStream(s, sourceDir, options))
      .filter(CurationOps.mixPredicate)
      .withColumn("content_md5", md5($"text"))
      .dropDuplicatesWithinWatermark("content_md5")
      .drop("content_md5")
      .withColumn(
        "split",
        when(bucket < 80, "train")
          .when(bucket < 90, "valid")
          .otherwise("test"))
  }

  def liftCorpusPipeline(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    liftCuratedDocs(s, sourceDir).select($"doc_id", $"lang", $"n_chars", $"split")
  }

  /** Targets of the composed continuous corpus program — the engine-side
    * form of the reference's extract → transform → load → report loop
    * (main.py:421-453): curated lake, the two maintained index families,
    * the two text-frequency families (boilerplate shingle counts +
    * passage-gram fingerprints — a production curation stream maintains
    * the frequency state ALONGSIDE dedup: one source, one foreachBatch,
    * shared safe-points), and the published report table.
    */
  case class CorpusPipeline(
      lakeDir: String,
      dedupIndexDir: String,
      bm25IndexDir: String,
      boilerStatsDir: String,
      passageGramsDir: String,
      bigramStatsDir: String,
      reportSummaryDir: String,
      jdbcUrl: String,
      reportTable: String,
      // the positional phrase index (r15, THIRTEENTH family) — "" keeps
      // a pre-existing 12-family deployment's call sites valid
      phraseIndexDir: String = "",
      props: java.util.Properties = new java.util.Properties)

  /** The lake's corpus schema: the batch pipeline's columns, without the
    * stream-plumbing watermark carrier.
    */
  private val CorpusLakeCols =
    Seq("doc_id", "lang", "text", "source", "n_chars", "split")

  /** Per-(split, lang) accounting over curated rows — the published
    * report's shape.
    */
  def corpusReport(curated: DataFrame): DataFrame =
    curated
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Re-aggregate persisted per-batch summaries into the published
    * report: counts and char-sums are ADDITIVE over disjoint row sets,
    * so summing summaries ≡ aggregating the union of their rows.
    */
  private def aggregateSummaries(summaries: DataFrame): DataFrame =
    summaries
      .groupBy(col("split"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_chars")).as("sum_chars"))

  /** The report-summary generation family on the [[graft.index.GenLog]]
    * kernel: each micro-batch persists its OWN O(groups) summary
    * ([[corpusReport]] over just the batch's rows), and fold re-aggregates
    * summary roots into one full summary — so the published report is
    * always a sum over O(generations) TINY frames, never a re-read of the
    * curated lake (the lake is O(corpus); the report leg must stay
    * O(batch) like every other leg). Crash safety, bounded snapshot
    * copies, and committed-only reads are the kernel's.
    */
  private[graft] val ReportFamily: graft.index.GenLog.GenFamily =
    graft.index.GenLog.GenFamily(
      write = (_, rows, path) =>
        corpusReport(rows)
          .coalesce(1)
          .write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(path),
      fold = (s, roots, path) =>
        aggregateSummaries(T.parquet(s, roots: _*))
          .coalesce(1)
          .write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(path))

  /** The report the composed program publishes: summary roots (newest
    * full + later generations) re-aggregated. O(generations × groups)
    * rows; the daily compaction folds it back to one file.
    */
  def publishedCorpusReport(s: SparkSession, summaryDir: String): DataFrame =
    aggregateSummaries(
      T.parquet(s,
        graft.index.GenLog.roots(s, summaryDir, what = "report summary"): _*))

  /** Daily compaction for the report summary — same stopped-stream
    * cadence and kernel contract as [[compactDedupIndex]] /
    * [[compactBm25Index]].
    */
  def compactCorpusReport(s: SparkSession, summaryDir: String): Unit =
    graft.index.GenLog.compact(s, summaryDir, ReportFamily)

  /** ONE micro-batch through every leg of the composed program: curated
    * rows land in a deterministic per-batch lake partition, the near-dup
    * index takes its O(batch) increments, the postings index its O(batch)
    * generation, the two text-frequency families their O(batch) shingle-
    * count / gram-fingerprint generations (policy-folded in-stream), the
    * report summary its O(groups) generation, and the report publishes
    * atomically (staging-table swap) from the summary roots — every leg
    * O(batch), nothing re-reads the lake. foreachBatch
    * is AT-LEAST-ONCE, so every leg is
    * idempotent per batchId: a retried batch overwrites its own lake
    * files, re-derives the same index commits from the same persisted
    * upTo-state, and the keyed swap converges
    * (EndToEndPipelineSpec replays a batch and proves all surfaces
    * unchanged).
    */
  def corpusPipelineBatch(
      batch0: DataFrame,
      batchId: Long,
      p: CorpusPipeline): Unit = {
    if (!batch0.isEmpty)
      corpusLegs(batch0.localCheckpoint(true), batchId, p)
  }

  /** The eight corpus legs (the phrase positional leg optional via
    * `phraseIndexDir`) over an already-materialized batch — shared
    * verbatim between the standalone corpus program and the unified
    * text+vector program, so both feed shapes commit through ONE
    * implementation.
    */
  private[graft] def corpusLegs(
      batch: DataFrame,
      batchId: Long,
      p: CorpusPipeline): Unit = {
      batch.select(CorpusLakeCols.map(col): _*)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"${p.lakeDir}/batch=$batchId")
      incrDedupCommit(batch, p.dedupIndexDir, batchId)
      bm25IndexCommit(batch, p.bm25IndexDir, batchId)
      // Text-frequency legs: generation-local state (per-batch shingle
      // counts / gram fingerprints), so the commit is the same O(batch)
      // kernel write as the report leg, idempotent per batchId, and the
      // in-stream policy fold applies — no standalone writer, no second
      // read of the feed.
      graft.index.GenLog.commitGeneration(
        BoilerFamily, batch, p.boilerStatsDir, batchId)
      graft.index.GenLog.maybeCompact(
        batch.sparkSession, p.boilerStatsDir, BoilerFamily)
      graft.index.GenLog.commitGeneration(
        PassageFamily, batch, p.passageGramsDir, batchId)
      graft.index.GenLog.maybeCompact(
        batch.sparkSession, p.passageGramsDir, PassageFamily)
      graft.index.GenLog.commitGeneration(
        BigramFamily, batch, p.bigramStatsDir, batchId)
      graft.index.GenLog.maybeCompact(
        batch.sparkSession, p.bigramStatsDir, BigramFamily)
      if (p.phraseIndexDir.nonEmpty) {
        graft.index.GenLog.commitGeneration(
          PhraseFamily, batch, p.phraseIndexDir, batchId)
        graft.index.GenLog.maybeCompact(
          batch.sparkSession, p.phraseIndexDir, PhraseFamily)
      }
      graft.index.GenLog.commitGeneration(
        ReportFamily, batch, p.reportSummaryDir, batchId)
      // Self-tuning fold for the kernel-protocol report leg: foreachBatch
      // serializes batches, so between-commits is exactly the safe point,
      // and the policy (gens > N or gen-bytes > fraction of full) keeps
      // merge-on-read fan-in bounded without the caller's day-2 loop.
      // The dedup/bm25 legs keep their stopped-stream compactions — their
      // bespoke folds rewrite multi-artifact state the day-2 cycle owns.
      graft.index.GenLog.maybeCompact(
        batch.sparkSession, p.reportSummaryDir, ReportFamily)
      // empty jdbcUrl = no external warehouse configured: the summary
      // family above is still maintained and publishedCorpusReport still
      // serves — only the push to the external table is skipped (also
      // the multi-executor harness case: embedded Derby is one-JVM-only,
      // and no network server ships in this environment)
      if (p.jdbcUrl.nonEmpty) {
        Sinks.upsertSnapshotSwapJdbc(
          publishedCorpusReport(batch.sparkSession, p.reportSummaryDir),
          p.jdbcUrl,
          p.reportTable,
          Seq("split", "lang"),
          p.props)
      }
  }

  /** Seed the composed program from yesterday's batch-curated corpus:
    * lake partition, both index family v0 snapshots, the v0 report
    * summary, and the initial published report.
    */
  def seedCorpusPipeline(
      s: SparkSession,
      curatedBase: DataFrame,
      p: CorpusPipeline): Unit = {
    // seedDedupState, not seedDedupIndex (r18): the composed pipeline's
    // dedup leg serves the FULL-corpus assignment (base + streamed) and
    // starts the verified pair log at v0 — the q_dedup_cc_incr family's
    // state, at no extra pass (the seed build computes the base closure
    // anyway)
    seedDedupState(
      s, curatedBase.select(col("doc_id"), col("lang"), col("text")),
      p.dedupIndexDir)
    seedBm25Index(s, curatedBase, p.bm25IndexDir)
    seedBoilerplateStats(s, curatedBase, p.boilerStatsDir)
    seedPassageGrams(s, curatedBase, p.passageGramsDir)
    seedBigramStats(s, curatedBase, p.bigramStatsDir)
    if (p.phraseIndexDir.nonEmpty)
      seedPhraseIndex(s, curatedBase, p.phraseIndexDir)
    graft.index.GenLog.seed(s, ReportFamily, curatedBase, p.reportSummaryDir)
    curatedBase.select(CorpusLakeCols.map(col): _*)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${p.lakeDir}/batch=seed")
    if (p.jdbcUrl.nonEmpty) {
      Sinks.upsertSnapshotSwapJdbc(
        publishedCorpusReport(s, p.reportSummaryDir), p.jdbcUrl, p.reportTable,
        Seq("split", "lang"), p.props)
    }
  }

  /** The composed continuous corpus program as a stream writer: feed it
    * [[liftCuratedDocs]] and start. Stop/compact/resume is the daily
    * loop — compactDedupIndex + compactBm25Index + compactCorpusReport
    * while stopped, then restart from the same checkpoint
    * (EndToEndPipelineSpec proves the whole cycle ≡ the batch pipeline,
    * day over day).
    */
  def corpusPipelineWriter(
      curated: DataFrame,
      p: CorpusPipeline,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    curated.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        corpusPipelineBatch(batch, batchId, p)
        ()
      }

  /** Streaming lift of q_expect_constraints' ROW-LEVEL rules — the
    * at-ingest quarantine channel: every event carries its violation list
    * (null key, domain membership, value range — the stateless subset;
    * key uniqueness and referential integrity are corpus-global, so they
    * stay in the periodic batch audit q_expect_constraints runs). A sink
    * routes empty-violation rows onward and quarantines the rest — the
    * Deequ-style row gate, STATELESS at any ingest rate: no watermark
    * interaction, no state store, identical verdicts for a row whether
    * it arrives in a backfill batch or on the stream
    * (StreamingExpectationsSpec pins stream ≡ batch verdict sets).
    */
  def liftExpectations(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, sourceDir)
      .select(
        $"event_id",
        $"user_id",
        $"event_type",
        $"value",
        array_compact(
          array(
            when($"user_id".isNull, "null_user_id"),
            when(
              !$"event_type".isin("click", "error", "purchase", "signup", "view"),
              "bad_event_type"),
            when($"value" < 0d, "negative_value"))).as("violations"))
  }

  /** Streaming lift of q_agg_sketch_merge's build side — per-day HLL user
    * sketches maintained CONTINUOUSLY: the same Datasketches binary state
    * the batch rollup persists, produced as streaming aggregation state
    * (constant-size per (day, type) group, evicted by the 7-day
    * watermark). Downstream, the emitted day sketches union exactly as
    * the batch-built ones do — register-wise max is associative whether
    * the partial came from a batch job or a micro-batch — which is what
    * StreamingSketchSpec pins: union(streamed day sketches) estimates ≡
    * the batch whole-data sketch, per event type.
    */
  def liftSketchRollup(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    eventsStream(s, sourceDir)
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(hll_sketch_agg($"user_id").as("sk"))
      .select($"window.start".as("day"), $"event_type", $"sk")
  }

  /** Streaming lift of q_stream_join — a stream-stream interval join:
    * both sides carry the 7-day watermark from [[eventsStream]] (the
    * event-time metadata survives the per-side renames), and the
    * `click_ts ∈ [view_ts, view_ts + 1h]` bound gives the state store its
    * eviction rule — a buffered view is dropped once the watermark passes
    * `view_ts + 1h`, a buffered click once it passes `click_ts`, so state
    * is bounded by one hour-plus-delay of traffic per side regardless of
    * corpus size. Append mode: a pair is emitted exactly once, when both
    * matching rows have arrived.
    */
  def liftStreamJoin(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    joinViewsClicks(
      eventsStream(s, sourceDir).filter($"event_type" === "view"),
      eventsStream(s, sourceDir).filter($"event_type" === "click"))
  }

  /** Stream-static join — the third join mode next to the batch joins and
    * the watermarked stream-stream interval join: each micro-batch of the
    * event stream equi-joins a STATIC dimension snapshot (per-user first
    * active day, computed once from the batch table). Stream-static joins
    * are STATELESS — no watermark, no join state store; the static side
    * is just re-planned per micro-batch, and at dimension scale Spark
    * broadcasts it — so enrichment-by-dimension costs no streaming state
    * at all, which is why a production pipeline prefers this over a
    * stream-stream join whenever one side is slowly-changing.
    * StreamStaticJoinSpec proves batch ≡ stream row sets.
    */
  def liftStreamStaticJoin(s: SparkSession, sourceDir: String): DataFrame = {
    import s.implicits._
    val userDim = T(s, sourceDir, "events")
      .groupBy($"user_id")
      .agg(min(to_date($"ts")).as("cohort_day"))
    eventsStream(s, sourceDir)
      .select($"event_id", $"user_id", $"event_type")
      .join(userDim, Seq("user_id"))
  }

  /** Continuous retrieval — the streaming ANN lift: a stream of probe
    * embeddings multi-probes the STATIC sign-LSH-bucketed corpus (the
    * q_sim_ann index shape) as a stream-static equi-join on the bucket
    * key. Each probe expands map-side to its bucket + the 8 Hamming-1
    * neighbor buckets (the recall repair q_sim_ann uses), joins the
    * bucketed corpus, and emits (probe_id, hit_id, cos ≥ τ) — entirely
    * STATELESS: no watermark, no join state, the index is re-planned (and
    * at dimension scale broadcast) per micro-batch, so retrieval latency
    * is one micro-batch and state is zero regardless of probe volume.
    * The cosine runs in the same fused DotProduct kernel as the batch
    * family; StreamStaticJoinSpec's sibling proof
    * (StreamingRetrievalSpec) pins stream ≡ batch hit sets.
    */
  def liftSimRetrieve(
      s: SparkSession,
      corpusDir: String,
      probesDir: String,
      minCos: Double = 0.2): DataFrame = {
    import s.implicits._
    val corpus = T(s, corpusDir, "embeddings")
      .select(
        $"vec_id",
        $"embedding",
        Vec.norm2($"embedding").as("n2"),
        SimilarityOps.bucketCol.as("bucket"))
    val probes = s.readStream
      .schema(T(s, corpusDir, "embeddings").schema)
      .parquet(probesDir)
      .select(
        $"vec_id".as("probe_id"),
        $"embedding".as("p"),
        Vec.norm2($"embedding").as("pn2"),
        SimilarityOps.bucketCol.as("pb"))
      .select(
        $"probe_id",
        $"p",
        $"pn2",
        explode(
          array(
            $"pb" +: (0 until SimilarityOps.SignBits)
              .map(j => $"pb".bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    probes
      .join(corpus, Seq("bucket"))
      .filter($"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id",
        graft.X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2"))
          .as("cos"))
      .filter($"cos" >= minCos)
  }

  /** Streaming lift of the per-user running totals in UPDATE mode — the
    * change feed a CDC-apply sink consumes: each micro-batch emits only
    * the (user_id, n) rows whose cumulative count CHANGED in that batch.
    * Pair with [[upsertStreamWriter]] to maintain a keyed dimension table
    * that converges to the batch `groupBy(user_id).count()` (proven by
    * StreamingUpsertSpec across staged micro-batches and a fresh-
    * checkpoint rerun).
    */
  def liftUserCounts(
      s: SparkSession,
      sourceDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    eventsStream(s, sourceDir, options)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
  }

  /** Version listing for every persisted index family — delegated to the
    * shared generation-log kernel ([[graft.index.GenLog]]): `v<N>`
    * subdirectories whose required artifact is COMMITTED (carries the
    * kernel's marker), so a crashed write is invisible to every reader.
    */
  private def indexVersions(
      s: SparkSession,
      indexDir: String,
      requiring: String = ""): Seq[Long] =
    graft.index.GenLog.versions(s, indexDir, requiring)

  /** Maintenance for the versioned continuous-dedup indexes: drop the
    * SUPERSEDED index snapshots (md5/band state of all but the newest
    * `keep` versions), never the per-batch outputs (assign / pairs dirs
    * stay — they are the committed product, each written exactly once).
    * The writers pick their read version among versions that still HAVE
    * index state, so a restart after pruning reads the newest surviving
    * snapshot. At warehouse scale this is the compaction cadence that
    * bounds the dir to O(keep) index copies.
    */
  def pruneDedupIndexVersions(
      s: SparkSession,
      indexDir: String,
      keep: Int = 2): Unit =
    graft.index.GenLog.pruneSnapshots(
      s, indexDir, arts = Seq("band_index", "md5_index"),
      gate = "band_index", keep = keep)

  /** [[pruneDedupIndexVersions]] for the embedding index: bounds the dir
    * to O(keep) full band snapshots (each compaction writes one; without
    * pruning they accumulate a corpus copy per fold).
    */
  def pruneEmbedIndexVersions(
      s: SparkSession,
      indexDir: String,
      keep: Int = 2): Unit =
    graft.index.GenLog.pruneSnapshots(
      s, indexDir, arts = Seq("band_index"), gate = "band_index", keep = keep)

  /** Seed the continuous-dedup index: build the base corpus's persisted
    * state ([[DedupOps.buildDedupIndex]]) and write it as version v0 —
    * the snapshot micro-batch 0 reads. Band rows are hive-partitioned on
    * band_idx, the index's natural layout. md5 commits before band: the
    * snapshot is recognized by its band marker, so a crash between the
    * two writes leaves no half-snapshot a reader could pick.
    */
  def seedDedupIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit = {
    val (md5Index, bandIndex) = DedupOps.buildDedupIndex(s, base)
    graft.index.GenLog.commitParquet(md5Index, s"$indexDir/v0/md5_index")
    graft.index.GenLog.commitParquet(
      bandIndex, s"$indexDir/v0/band_index", partitionBy = Seq("band_idx"))
  }

  /** [[seedDedupIndex]] plus the FULL-VIEW state the pair-graph family
    * (verdict-r17 #1) starts from: the base corpus's assignment
    * (v0/assign — so [[readDedupAssignments]] serves ALL docs, not just
    * streamed batches) and its verified rep-level pair set (v0/pairs —
    * the seed generation of the maintained pair graph). One build pass
    * produces all four frames ([[DedupOps.buildDedupState]]); band_index
    * stays last as the seed's recognition marker.
    */
  def seedDedupState(s: SparkSession, base: DataFrame, indexDir: String): Unit = {
    val (assign, pairs, md5Index, bandIndex) = DedupOps.buildDedupState(s, base)
    graft.index.GenLog.commitParquet(assign, s"$indexDir/v0/assign")
    graft.index.GenLog.commitParquet(pairs, s"$indexDir/v0/pairs")
    graft.index.GenLog.commitParquet(md5Index, s"$indexDir/v0/md5_index")
    graft.index.GenLog.commitParquet(
      bandIndex, s"$indexDir/v0/band_index", partitionBy = Seq("band_idx"))
  }

  /** Closure SERVED from the maintained pair state alone — the
    * merge-on-read proof that the persisted pair generations carry the
    * whole component structure: union every committed pair generation,
    * attach each doc to its AS-OF-COMMIT label (the raw assign dirs,
    * remap log deliberately unused), and run one [[DedupOps.ccAssign]]
    * over the slim id-pair graph. A label is always a node of its own
    * component and later bridges add edges reconnecting whatever a
    * remap re-labels, so the min-label closure equals
    * [[readDedupAssignments]]'s remap-forest view — the identity
    * StreamingPairSpec pins. The production serve stays the remap
    * forest (no closure at read); this path is what a rank/centrality
    * consumer rides to get the VERIFIED pair graph without re-running
    * the banded-Jaccard lineage.
    */
  def ccFromPairState(s: SparkSession, indexDir: String): DataFrame = {
    def read(sub: String): DataFrame = T.parquet(s,
      indexVersions(s, indexDir, requiring = sub)
        .sorted
        .map(v => s"$indexDir/v$v/$sub"): _*)
    DedupOps.ccAssign(
      s,
      read("pairs"),
      read("assign").withColumnRenamed("cluster_id", "rep"))
  }

  /** Transitive composition of the accumulated (old_cid → new_cid) merge
    * log. Labels only ever move DOWN and a remapped old label's rows
    * leave the live index (so an old key never reappears) — the log is a
    * functional acyclic pointer forest, and pointer-doubling self-joins
    * compose every chain in O(log depth) rounds over a frame that is
    * O(cluster merges), not O(corpus).
    */
  /** Bound under which the remap log resolves driver-side: the log is
    * O(cluster merges) — bounded model state like the CC driver finish —
    * and below this row count one collect + a transitive Scala resolve +
    * one broadcast frame replaces a pointer-doubling loop whose per-hop
    * fixed cost (self-join + eager checkpoint + emptiness job) dwarfs
    * logs this small. Above the bound the distributed loop runs as
    * before.
    */
  private val RemapDriverResolveRows = 100000L

  private def composeRemap(remap: DataFrame): DataFrame = {
    var r = remap
      .select(col("old_cid"), col("new_cid"))
      .localCheckpoint(eager = true)
    if (r.count() <= RemapDriverResolveRows) {
      val local = r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      def resolve(x: Long): Long = {
        var v = x
        var hops = 0
        while (local.contains(v) && hops < local.size + 1) { v = local(v); hops += 1 }
        v
      }
      val s = r.sparkSession
      import s.implicits._
      return local.keys.toSeq.map(k => (k, resolve(k))).toDF("old_cid", "new_cid")
    }
    var done = false
    var hops = 0
    while (!done && hops < 64) {
      val b = r.select(col("old_cid").as("o2"), col("new_cid").as("n2"))
      val j = r
        .join(b, r("new_cid") === b("o2"), "left")
        .select(
          r("old_cid"),
          coalesce(b("n2"), r("new_cid")).as("new_cid"),
          b("n2").isNotNull.as("moved"))
        .localCheckpoint(eager = true)
      done = j.filter(col("moved")).isEmpty
      r = j.select("old_cid", "new_cid")
      hops += 1
    }
    r
  }

  /** Left-join remap application: rows whose cluster_id appears as an old
    * label get the surviving one. No broadcast hint — the remap side is
    * merge-bounded and AQE broadcasts it when small.
    */
  private def applyRemap(
      df: DataFrame,
      remap: DataFrame,
      cols: Seq[String]): DataFrame =
    df.join(remap, df("cluster_id") === remap("old_cid"), "left")
      .select(
        cols.map(df(_)) :+
          coalesce(remap("new_cid"), df("cluster_id")).as("cluster_id"): _*)

  private val Md5Cols = Seq("lang", "h")
  private val BandCols = Seq("band_idx", "band_val", "lang", "n", "th")

  /** Merge-on-read of the dedup index as of stream version `upTo`: the
    * newest FULL snapshot ≤ upTo (the v0 seed or a
    * [[compactDedupIndex]] rewrite) plus every later batch's O(batch)
    * `md5_inc`/`band_inc` increments, with the remap log over the same
    * version window composed transitively and applied. Increments carry
    * labels current as of their own commit, so only LATER remaps can
    * touch them — and applying a remap below a row's version is a no-op
    * (old labels are dead keys) — which is why one window works for the
    * whole union.
    */
  private[graft] def readDedupIndexState(
      s: SparkSession,
      indexDir: String,
      upTo: Long): (DataFrame, DataFrame) = {
    val snaps =
      indexVersions(s, indexDir, requiring = "band_index").filter(_ <= upTo)
    require(
      snaps.nonEmpty,
      s"dedup index at $indexDir has no snapshot version <= $upTo (run seedDedupIndex)")
    val snapVer = snaps.max
    def vers(sub: String): Seq[String] = indexVersions(s, indexDir, requiring = sub)
      .filter(v => v > snapVer && v <= upTo)
      .sorted
      .map(v => s"$indexDir/v$v/$sub")
    // each increment dir is its own partitioned root — read separately
    // and union (fan-in is O(batches since last compaction) by contract)
    def union(base: DataFrame, paths: Seq[String], cols: Seq[String]) =
      (base +: paths.map(T.parquet(s, _)))
        .map(_.select(cols.map(col): _*))
        .reduce(_ unionByName _)
    val md5 = union(
      T.parquet(s, s"$indexDir/v$snapVer/md5_index"),
      vers("md5_inc"),
      Md5Cols :+ "cluster_id")
    val band = union(
      T.parquet(s, s"$indexDir/v$snapVer/band_index"),
      vers("band_inc"),
      BandCols :+ "cluster_id")
    val remapPaths = vers("remap")
    if (remapPaths.isEmpty) (md5, band)
    else {
      val r = composeRemap(T.parquet(s, remapPaths: _*))
      (applyRemap(md5, r, Md5Cols), applyRemap(band, r, BandCols))
    }
  }

  /** Continuous incremental near-dedup — the streaming form of
    * q_dedup_incr: each micro-batch runs the full incremental semantics
    * ([[DedupOps.applyDedupDeltaIncr]] — md5 set probe, band-join against
    * the persisted buckets, batch-internal banded pairs, one batch-sized
    * closure) against the merge-on-read index state, then commits FOUR
    * batch-bounded frames as one new versioned directory: `assign` (the
    * batch's labels as of commit), `remap` (the batch's cluster merges),
    * and the `md5_inc`/`band_inc` index increments. Bytes written per
    * batch are O(batch) — the full index is never rewritten
    * ([[compactDedupIndex]] is the periodic fold that bounds read
    * fan-in); StreamingIncrDedupSpec asserts the exact increment row
    * counts.
    *
    * Exactly-once without a transaction log: batch b reads versions ≤ b
    * and writes everything to `v(b+1)` — a fresh directory, so no write
    * ever overwrites its own input, and a RETRIED batch re-reads the same
    * input versions and deterministically overwrites the same output
    * directory. Version gaps from empty batches are skipped on read.
    *
    * Label semantics: `assign` dirs are immutable as-of-commit labels; a
    * later batch's bridge doc may merge an earlier-committed cluster
    * (batch-created or base) into a smaller one, and that merge lands in
    * the remap log, which [[readDedupAssignments]] composes transitively
    * — so the READ view always equals the one-shot full rebuild
    * (StreamingIncrDedupSpec proves the chain against
    * [[DedupOps.fullAssign]] ground truth, including a batch-1 cluster
    * merged by a batch-2 bridge and a two-hop remap chain).
    */
  /** Commit micro-batch `batchId`'s O(batch) dedup increments as version
    * v(batchId+1) — the per-batch body of [[incrDedupStreamWriter]],
    * exposed so a COMPOSED pipeline (curate → dedup → index → publish in
    * one foreachBatch) can drive this leg from the same micro-batch.
    */
  def incrDedupCommit(batch: DataFrame, indexDir: String, batchId: Long): Unit = {
    val sess = batch.sparkSession
    val (md5Index, bandIndex) =
      readDedupIndexState(sess, indexDir, upTo = batchId)
    val (assign, remap, md5New, bandNew, pairs) = DedupOps.applyDedupDeltaIncr(
      sess,
      batch.select("doc_id", "lang", "text"),
      md5Index,
      bandIndex)
    val next = s"$indexDir/v${batchId + 1}"
    graft.index.GenLog.commitParquet(assign, s"$next/assign")
    graft.index.GenLog.commitParquet(remap, s"$next/remap")
    // the batch's verified-pair generation (r18): slim id pairs, part of
    // the permanent per-batch log like assign/remap — never folded or
    // pruned; band_inc stays LAST as the batch's commit gate
    graft.index.GenLog.commitParquet(pairs, s"$next/pairs")
    graft.index.GenLog.commitParquet(md5New, s"$next/md5_inc")
    graft.index.GenLog.commitParquet(
      bandNew, s"$next/band_inc", partitionBy = Seq("band_idx"))
  }

  def incrDedupStreamWriter(
      docs: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) incrDedupCommit(batch, indexDir, batchId)
        ()
      }

  /** Fold the accumulated O(batch) increments into a fresh FULL snapshot
    * at the newest committed version — the compaction leg of the
    * append-only protocol, run while the stream is stopped. Drops the
    * folded `*_inc` dirs (superseded by the snapshot); committed `assign`
    * and `remap` dirs are never touched — assignments are immutable
    * as-of-commit labels and the remap log is what resolves them forward.
    * [[pruneDedupIndexVersions]] then bounds the dir to O(keep) full
    * snapshots; together they cap merge-on-read fan-in at O(batches since
    * last compaction).
    */
  def compactDedupIndex(s: SparkSession, indexDir: String): Unit = {
    // a batch counts as committed only once its LAST artifact (band_inc)
    // is marked: gating on the first-written one (assign) would let a
    // compaction that runs after a mid-batch crash fold a snapshot at
    // version k WITHOUT that batch's increments — and the retried
    // batch's increments, landing at v == snapVer, would then be
    // invisible to every merge-on-read forever
    val committed = indexVersions(s, indexDir, requiring = "band_inc")
    // an unseeded dir (or one whose seed crashed pre-commit) has no
    // committed band_index at all — nothing to fold against and no
    // snapshot to gate cleanup on, so return before any .max on an
    // empty version list can throw
    val snaps0 = indexVersions(s, indexDir, requiring = "band_index")
    if (snaps0.isEmpty) return
    if (committed.nonEmpty && snaps0.max < committed.max) {
      val k = committed.max
      val (md5, band) = readDedupIndexState(s, indexDir, upTo = k)
      // md5 first, band last: recognition keys on the band marker, so a
      // crash anywhere before it leaves the fold invisible (the increments
      // are still in place — reads are unchanged) and a rerun overwrites
      graft.index.GenLog.commitParquet(md5, s"$indexDir/v$k/md5_index")
      graft.index.GenLog.commitParquet(
        band, s"$indexDir/v$k/band_index", partitionBy = Seq("band_idx"))
    }
    // cleanup runs even with nothing to fold (the GenLog.compact shape),
    // so a grace tombstone planted last compaction is collected now.
    // Live-reader grace: folded increments are tombstoned first, deleted
    // a compaction later — a reader that resolved its merge-on-read
    // state just before the fold committed finishes its scan.
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val snapVer = indexVersions(s, indexDir, requiring = "band_index").max
    Seq("md5_inc", "band_inc").foreach { sub =>
      indexVersions(s, indexDir, requiring = sub).filter(_ <= snapVer).foreach { v =>
        graft.index.GenLog.graceDelete(
          fs, new org.apache.hadoop.fs.Path(s"$indexDir/v$v/$sub"))
      }
    }
  }

  /** All (doc_id, cluster_id) assignments the continuous dedup has
    * committed — the union of every version's per-batch assignment dir
    * (v0 is the seed and has none) — with the FULL remap log composed
    * transitively and applied, so labels of clusters merged by later
    * batches resolve to the surviving label and the view equals the
    * one-shot rebuild at every point in time.
    */
  def readDedupAssignments(s: SparkSession, indexDir: String): DataFrame = {
    // committed assign dirs only (not a v*/assign glob): an in-flight
    // batch's partial write must never leak into the read view
    val a = T.parquet(s,
      indexVersions(s, indexDir, requiring = "assign")
        .sorted
        .map(v => s"$indexDir/v$v/assign"): _*)
    val remapVers = indexVersions(s, indexDir, requiring = "remap")
    if (remapVers.isEmpty) a
    else {
      val r = composeRemap(
        T.parquet(s, remapVers.map(v => s"$indexDir/v$v/remap"): _*))
      a.join(r, a("cluster_id") === r("old_cid"), "left")
        .select(a("doc_id"), coalesce(r("new_cid"), a("cluster_id")).as("cluster_id"))
    }
  }

  /** Seed the continuous EMBEDDING-dedup index: the base corpus's
    * sign-LSH band rows ([[DedupOps.buildEmbedIndex]]) as version v0.
    */
  def seedEmbedIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit =
    graft.index.GenLog.commitParquet(
      DedupOps.buildEmbedIndex(s, base),
      s"$indexDir/v0/band_index",
      partitionBy = Seq("band_idx"))

  private val EmbedCols = Seq("vec_id", "embedding", "n2", "band_idx", "band_val")

  /** Merge-on-read of the embedding index as of stream version `upTo`:
    * newest full snapshot ≤ upTo plus later `band_inc` increments. No
    * remap log — the pair contract has no labels to move.
    */
  private[graft] def readEmbedIndexState(
      s: SparkSession,
      indexDir: String,
      upTo: Long): DataFrame = {
    val snaps =
      indexVersions(s, indexDir, requiring = "band_index").filter(_ <= upTo)
    require(
      snaps.nonEmpty,
      s"embed index at $indexDir has no snapshot version <= $upTo (run seedEmbedIndex)")
    val snapVer = snaps.max
    val incs = indexVersions(s, indexDir, requiring = "band_inc")
      .filter(v => v > snapVer && v <= upTo)
      .sorted
      .map(v => s"$indexDir/v$v/band_inc")
    // partitioned roots must be read separately (fan-in bounded by
    // compaction cadence)
    (s"$indexDir/v$snapVer/band_index" +: incs)
      .map(p => T.parquet(s, p).select(EmbedCols.map(col): _*))
      .reduce(_ unionByName _)
  }

  /** Continuous incremental EMBEDDING near-dup — the vector-modality
    * sibling of [[incrDedupStreamWriter]], structurally simpler because
    * the contract is PAIRS, not clusters: no labels can move, so index
    * maintenance is a pure append of the batch's band rows (no remap
    * log), and sequential micro-batch apply ≡ one-shot rebuild holds
    * directly — batch b emits exactly the full pair set's rows whose
    * larger id lands in batch b (monotone ingest ids). Same append-only
    * exactly-once shape: batch b reads the merged index ≤ b, writes its
    * pairs + its OWN band rows only (`band_inc`, O(batch)) to the fresh
    * `v(b+1)` directory; retries overwrite deterministically;
    * [[compactEmbedIndex]] periodically folds increments into a full
    * snapshot. StreamingEmbedIncrSpec proves the cross-batch union equals
    * the one-shot rebuild, including a pair whose two sides arrive in
    * different micro-batches.
    */
  def incrEmbedDedupStreamWriter(
      vecs: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val sess = batch.sparkSession
          val bandIndex = readEmbedIndexState(sess, indexDir, upTo = batchId)
          val b = batch.select("vec_id", "embedding")
          val pairs = DedupOps.applyEmbedDelta(sess, b, bandIndex)
          val next = s"$indexDir/v${batchId + 1}"
          graft.index.GenLog.commitParquet(pairs, s"$next/pairs")
          graft.index.GenLog.commitParquet(
            DedupOps.buildEmbedIndex(sess, b).select(EmbedCols.map(col): _*),
            s"$next/band_inc",
            partitionBy = Seq("band_idx"))
        }
        ()
      }

  /** Compaction for the embedding index: fold `band_inc` increments into
    * a full snapshot at the newest committed version and drop the folded
    * dirs. Committed `pairs` outputs are never touched.
    */
  def compactEmbedIndex(s: SparkSession, indexDir: String): Unit = {
    // gate on band_inc, the batch's LAST-written artifact (the
    // compactDedupIndex rationale)
    val committed = indexVersions(s, indexDir, requiring = "band_inc")
    // no committed band_index → unseeded (or seed crashed pre-commit):
    // return before an empty-Seq .max can throw (compactDedupIndex shape)
    val snaps0 = indexVersions(s, indexDir, requiring = "band_index")
    if (snaps0.isEmpty) return
    if (committed.nonEmpty && snaps0.max < committed.max) {
      // write-then-mark: a crash mid-fold leaves an uncommitted snapshot
      // that readEmbedIndexState ignores (the increments are still there)
      graft.index.GenLog.commitParquet(
        readEmbedIndexState(s, indexDir, upTo = committed.max),
        s"$indexDir/v${committed.max}/band_index",
        partitionBy = Seq("band_idx"))
    }
    // grace cleanup, unconditionally (the compactDedupIndex shape)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val snapVer = indexVersions(s, indexDir, requiring = "band_index").max
    indexVersions(s, indexDir, requiring = "band_inc").filter(_ <= snapVer).foreach { v =>
      graft.index.GenLog.graceDelete(
        fs, new org.apache.hadoop.fs.Path(s"$indexDir/v$v/band_inc"))
    }
  }

  /** All near-dup pairs the continuous embedding dedup has committed
    * (committed dirs only — an in-flight batch's partial write never
    * leaks into the read view).
    */
  def readEmbedPairs(s: SparkSession, indexDir: String): DataFrame =
    T.parquet(s,
      indexVersions(s, indexDir, requiring = "pairs")
        .sorted
        .map(v => s"$indexDir/v$v/pairs"): _*)

  // ---- the generation-local index families, over the shared kernel ---
  //
  // Each family is two functions — build one generation from a frame,
  // fold generation roots into one full snapshot — and the kernel
  // ([[graft.index.GenLog]]) owns everything else: version directories,
  // commit markers (a crashed fold is invisible until its marker lands),
  // merge-on-read root resolution, superseded-generation drops, and
  // full-snapshot pruning (without it each compaction would strand one
  // corpus copy forever). A build is generation-local and
  // query-independent (doc/vector ids are disjoint under the
  // monotone-ingest contract), so each micro-batch writes its OWN
  // committed generation without reading ANY prior state — O(batch)
  // work and bytes per batch, no remap log, the base snapshot never
  // re-read or rewritten. Exactly-once as the dedup writers: batch b
  // writes the fresh directory v(b+1); a retry deterministically
  // overwrites the same output from the same input, and version gaps
  // from empty batches are skipped on read.

  /** Postings family (the streaming form of q_index_bm25_incr): fold
    * unions postings shard-wise and sums the one-row corpus stats —
    * union-preserving, so no read changes (df is derived at serve time).
    */
  private val Bm25Family = graft.index.GenLog.GenFamily(
    write = (s, docs, path) => { TextOps.writeBm25IndexFrom(s, docs, path); () },
    fold = (s, roots, path) => {
      roots
        .map(p => T.parquet(s, s"$p/postings"))
        .reduce(_ unionByName _)
        .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("tshard"))
        .repartition(col("tshard"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("tshard")
        .parquet(s"$path/postings")
      roots
        .map(p => T.parquet(s, s"$p/stats"))
        .reduce(_ unionByName _)
        .agg(sum(col("l")).as("l"), sum(col("n")).as("n"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/stats")
    })

  /** ANN bucket family (the streaming form of q_sim_incr). */
  private[graft] val AnnFamily = graft.index.GenLog.GenFamily(
    write = (s, vecs, path) => SimilarityOps.writeAnnIndexFor(s, vecs, path),
    fold = (s, roots, path) =>
      roots
        .map(p => T.parquet(s, p)
          .select(col("vec_id"), col("embedding"), col("n2"), col("bucket")))
        .reduce(_ unionByName _)
        .repartition(col("bucket"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(path))

  /** Id-sharded embedding-store family — the by-id lookup complement of
    * the ANN buckets (the serving tier's feedback-seed fetch): same
    * generation protocol, partitioned on ishard instead of bucket.
    */
  private val EmbStoreFamily = graft.index.GenLog.GenFamily(
    write = (s, vecs, path) => SimilarityOps.writeEmbStoreFor(s, vecs, path),
    fold = (s, roots, path) =>
      roots
        .map(p => T.parquet(s, p)
          .select(
            col("vec_id"), col("embedding"), col("n2"),
            col("bucket"), col("ishard")))
        .reduce(_ unionByName _)
        .repartition(col("ishard"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("ishard")
        .parquet(path))

  /** Seed the continuous LEXICAL index: the base corpus's postings
    * generation as the committed v0 full snapshot.
    */
  def seedBm25Index(s: SparkSession, base: DataFrame, indexDir: String): Unit =
    graft.index.GenLog.seed(s, Bm25Family, base, indexDir)

  /** Per-batch commit of the continuous lexical index — the foreachBatch
    * body of [[bm25IndexStreamWriter]], exposed for composed pipelines.
    */
  def bm25IndexCommit(batch: DataFrame, indexDir: String, batchId: Long): Unit =
    graft.index.GenLog.commitGeneration(Bm25Family, batch, indexDir, batchId)

  /** Continuous lexical index maintenance (see the family block note). */
  def bm25IndexStreamWriter(
      docs: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(docs, Bm25Family, indexDir, checkpoint)

  private[graft] def bm25GenerationRoots(
      s: SparkSession,
      indexDir: String): Seq[String] =
    graft.index.GenLog.roots(s, indexDir, what = "lexical index")

  /** Serve the fixed BM25 query set from the continuous index —
    * merge-on-read over [[bm25GenerationRoots]] through the same
    * [[TextOps.serveBm25]] union q_index_bm25_incr uses, so the streamed
    * index answers exactly like a single rebuilt one.
    */
  def serveBm25Continuous(s: SparkSession, indexDir: String): DataFrame =
    TextOps.serveBm25(s, bm25GenerationRoots(s, indexDir))

  /** Compaction for the lexical index (kernel protocol: fold, commit,
    * drop superseded generations, prune all but the newest `keepFulls`
    * snapshots).
    */
  def compactBm25Index(s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, Bm25Family, keepFulls)

  /** Metrics-rollup family — the FOURTEENTH maintained family
    * (verdict-r16 #1): per-(day, event_type) HLL + q-digest sketch state
    * ([[RelationalOps.rollupStateFrom]]) under the same generation
    * protocol as the retrieval indexes. Each events micro-batch writes
    * its OWN committed generation — O(batch) work and bytes, base day
    * sketches never recomputed — and the merged distinct/quantile report
    * ([[RelationalOps.serveRollup]]) serves continuously from maintained
    * state. Fold re-merges same-day partials by key — both sketches'
    * unions are associative (register-wise max / key-wise count sum), so
    * compaction never moves an exact column (n rides IN the digests; day
    * counts are countDistinct). Day-straddling batches keep every exact
    * column and the rank/rsd bounds but not bit-identity of the merged
    * digest (extra early compressions) — StreamingRollupSpec pins exact
    * identity on day-aligned feeds and the invariants on straddled ones.
    */
  private[graft] val RollupFamily = graft.index.GenLog.GenFamily(
    write = (s, events, path) =>
      RelationalOps.writeRollupStateFrom(s, events, path),
    fold = (s, roots, path) => {
      val union = org.apache.spark.sql.functions.udaf(
        new graft.expr.QDigestMergeAgg(RelationalOps.QdK),
        org.apache.spark.sql.Encoders.BINARY)
      roots
        .map(p => T.parquet(s, p))
        .reduce(_ unionByName _)
        .groupBy(col("day"), col("event_type"))
        .agg(
          hll_union_agg(col("hll")).as("hll"),
          union(col("qd")).as("qd"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path)
    })

  /** Seed the continuous rollup: the base corpus's day sketches as the
    * committed v0 full snapshot.
    */
  def seedRollupState(s: SparkSession, baseEvents: DataFrame, dir: String): Unit =
    graft.index.GenLog.seed(s, RollupFamily, baseEvents, dir)

  /** Per-batch commit of the continuous rollup — the foreachBatch body
    * of [[rollupStreamWriter]], exposed for composed pipelines.
    */
  def rollupCommit(batch: DataFrame, dir: String, batchId: Long): Unit =
    graft.index.GenLog.commitGeneration(RollupFamily, batch, dir, batchId)

  /** Continuous rollup maintenance over the events feed. */
  def rollupStreamWriter(
      events: DataFrame,
      dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(events, RollupFamily, dir, checkpoint)

  /** The merged distinct/quantile report from the maintained state —
    * merge-on-read over the committed roots through the same
    * [[RelationalOps.serveRollup]] the registry's incremental query
    * uses, so the streamed rollup answers exactly like a rebuilt one.
    */
  def serveRollupContinuous(s: SparkSession, dir: String): DataFrame =
    RelationalOps.serveRollup(
      s, graft.index.GenLog.roots(s, dir, what = "rollup state"))

  /** The time-sliced (day, event_type) report from the same maintained
    * state — see [[RelationalOps.serveRollupDaily]].
    */
  def serveRollupDailyContinuous(s: SparkSession, dir: String): DataFrame =
    RelationalOps.serveRollupDaily(
      s, graft.index.GenLog.roots(s, dir, what = "rollup state"))

  /** Compaction for the rollup state (kernel protocol). */
  def compactRollupState(s: SparkSession, dir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, dir, RollupFamily, keepFulls)

  /** Positional-postings family — the streaming form of
    * q_index_phrase_served's index: each batch writes its OWN
    * (term, doc_id, pos) occurrence rows (O(batch) work and bytes, no
    * prior state read). Adjacency is within-document and generations'
    * doc sets are disjoint, so merge-on-read union over roots answers
    * exactly like a single rebuilt index; fold is a re-shard concat.
    */
  private val PhraseFamily = graft.index.GenLog.GenFamily(
    write = (s, docs, path) => TextOps.writePhraseIndexFrom(s, docs, path),
    fold = (s, roots, path) =>
      roots
        .map(p => T.parquet(s, s"$p/postings")
          .select(col("term"), col("doc_id"), col("pos"), col("tshard")))
        .reduce(_ unionByName _)
        .repartition(col("tshard"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("tshard")
        .parquet(s"$path/postings"))

  /** Seed the continuous positional index: base corpus as v0. */
  def seedPhraseIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit =
    graft.index.GenLog.seed(s, PhraseFamily, base, indexDir)

  /** Continuous positional-index maintenance (kernel protocol). */
  def phraseIndexStreamWriter(
      docs: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(docs, PhraseFamily, indexDir, checkpoint)

  /** Serve the phrase benchmark from the continuous positional index —
    * merge-on-read over generation roots through the same
    * [[TextOps.servePhrase]] the registry's served query uses (pruned to
    * the probed shards on EVERY generation's scan), so the streamed
    * index answers exactly like a single rebuilt one.
    */
  def servePhraseContinuous(s: SparkSession, indexDir: String): DataFrame =
    TextOps.servePhrase(
      s,
      graft.index.GenLog.roots(s, indexDir, what = "phrase index"),
      TextOps.PhraseQueries)

  /** Compaction for the positional index (kernel protocol). */
  def compactPhraseIndex(s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, PhraseFamily, keepFulls)

  // merge-on-read postings + summed corpus stats — the two frames every
  // LM serve derives from (generation-local postings union like the
  // BM25 serve; stats rows sum because each generation's `l` is its own
  // batch's token count)
  private def lmFrames(s: SparkSession, indexDir: String): (DataFrame, DataFrame) = {
    val roots = bm25GenerationRoots(s, indexDir)
    val postings = roots
      .map(p => T.parquet(s, s"$p/postings"))
      .reduce(_ unionByName _)
    val nTotal = roots
      .map(p => T.parquet(s, s"$p/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("l")).as("n_total"))
    (postings, nTotal)
  }

  /** Serve the q_lm_unigram model from the continuous LEXICAL index —
    * cf = Σ tf over merge-on-read postings, N = Σ generation stats — so
    * the unigram LM is one more serve on the state the BM25 family
    * already maintains: no new stream, no corpus re-read
    * (StreamingLmSpec asserts ≡ the registry query at every stage).
    */
  def serveLmUnigramContinuous(s: SparkSession, indexDir: String): DataFrame = {
    val (postings, nTotal) = lmFrames(s, indexDir)
    LmOps.lmUnigramFromCounts(
      postings
        .groupBy(col("term"))
        .agg(sum(col("tf")).as("cf"))
        .crossJoin(broadcast(nTotal)))
  }

  /** Serve q_lm_score's scored rows from the SAME postings state —
    * exact by the tf-grouping identity documented at
    * [[LmOps.lmScoreFromPostings]]; docs with zero model tokens carry no
    * postings and no score (the registry query reports them with
    * n_tokens = 0 from the corpus side, which an index serve by design
    * never reads).
    */
  def serveLmScoreContinuous(s: SparkSession, indexDir: String): DataFrame = {
    val (postings, nTotal) = lmFrames(s, indexDir)
    LmOps.lmScoreFromPostings(postings, nTotal)
  }

  /** Serve q_sample_importance from the SAME postings state — the DSIR
    * selection weights are one more serve on the maintained lexical
    * index: per-term corpus/target counts from merge-on-read postings
    * (target totals via the lake's (doc_id, lang) map), per-doc means by
    * the tf-grouping identity ([[CurationOps.sampleImportanceFromPostings]]).
    * docLang must carry EVERY lake doc's (doc_id, lang) so zero-token
    * docs keep their n_toks = 0 row.
    */
  def serveSampleImportanceContinuous(
      s: SparkSession,
      indexDir: String,
      docLang: DataFrame): DataFrame = {
    val (postings, _) = lmFrames(s, indexDir)
    CurationOps.sampleImportanceFromPostings(postings, docLang)
  }

  /** Serve q_lm_score_lang's scored rows from the SAME postings state —
    * the per-language production default (one LM per language, CCNet
    * arXiv:1911.00359) still rides the maintained lexical index: the
    * lake's (doc_id, lang) map joins language onto each posting (the
    * index deliberately persists no lake metadata), then the tf-grouping
    * identity applies per (lang, term) exactly as it does per term
    * ([[LmOps.lmScoreLangAggFromPostings]]). Docs with zero model tokens
    * carry no postings and no row, as with [[serveLmScoreContinuous]].
    */
  def serveLmScoreLangContinuous(
      s: SparkSession,
      indexDir: String,
      docLang: DataFrame): DataFrame = {
    import s.implicits._
    val (postings, _) = lmFrames(s, indexDir)
    LmOps.lmScoreLangAggFromPostings(postings, docLang)
      .join(docLang.select($"doc_id", $"lang"), Seq("doc_id"))
      .select(
        $"doc_id",
        $"lang",
        $"n_tokens",
        X.r6($"sr".cast("double") / $"n_tokens".cast("double")).as("rarity6"))
      .orderBy($"doc_id")
  }

  /** Seed the continuous ANN index: the base corpus becomes the
    * committed v0 full bucket-partitioned snapshot.
    */
  def seedAnnIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit =
    graft.index.GenLog.seed(s, AnnFamily, base, indexDir)

  /** Continuous ANN index maintenance (see the family block note). */
  def annIndexStreamWriter(
      vectors: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(vectors, AnnFamily, indexDir, checkpoint)

  private[graft] def annGenerationRoots(
      s: SparkSession,
      indexDir: String): Seq[String] =
    graft.index.GenLog.roots(s, indexDir, what = "ANN index")

  /** Serve a probe batch from the continuous ANN index — merge-on-read
    * over [[annGenerationRoots]] through the same pruned union
    * `q_sim_incr` uses, so the streamed index answers exactly like a
    * single rebuilt one.
    */
  def serveAnnContinuous(
      s: SparkSession,
      indexDir: String,
      probes: DataFrame): DataFrame =
    SimilarityOps.serveAnnBatchMulti(s, annGenerationRoots(s, indexDir), probes)

  /** Compaction for the continuous ANN index (kernel protocol). */
  def compactAnnIndex(s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, AnnFamily, keepFulls)

  /** Seed the continuous embedding STORE: v0 full ishard-partitioned
    * snapshot.
    */
  def seedEmbStoreIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit =
    graft.index.GenLog.seed(s, EmbStoreFamily, base, indexDir)

  /** Continuous embedding-store maintenance — runs beside
    * [[annIndexStreamWriter]] over the same vector feed (its own
    * checkpoint), maintaining the id-sharded store generations the
    * continuous hybrid serve fetches feedback-seed vectors from.
    */
  def embStoreStreamWriter(
      vectors: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(vectors, EmbStoreFamily, indexDir, checkpoint)

  private[graft] def embStoreGenerationRoots(
      s: SparkSession,
      indexDir: String): Seq[String] =
    graft.index.GenLog.roots(s, indexDir, what = "embedding store")

  /** Compaction for the embedding store (kernel protocol). */
  def compactEmbStoreIndex(
      s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, EmbStoreFamily, keepFulls)

  /** CONTINUOUS HYBRID RETRIEVAL — q_retrieval_rrf served from the three
    * maintained generation sets (streamed postings, streamed ANN
    * buckets, streamed id-sharded store) through
    * [[TextOps.serveRrfMulti]]: every leg unions its generation roots
    * with the same pruning as the static serve, so the continuously
    * maintained hybrid tier answers exactly like monolithic rebuilds at
    * every point in time (StreamingRrfSpec pins serve ≡ the
    * oracle-checked q_retrieval_rrf row-for-row after each batch).
    */
  def serveRrfContinuous(
      s: SparkSession,
      bm25IndexDir: String,
      annIndexDir: String,
      storeIndexDir: String): DataFrame =
    TextOps.serveRrfMulti(
      s,
      bm25GenerationRoots(s, bm25IndexDir),
      annGenerationRoots(s, annIndexDir),
      embStoreGenerationRoots(s, storeIndexDir))

  /** Quantized-index family — the int8 scan tier maintained
    * continuously beside the float tier: same generation-local shape as
    * [[AnnFamily]] (quantization is per-vector, so a batch quantizes
    * without reading prior state).
    */
  private val QuantFamily = graft.index.GenLog.GenFamily(
    write = (s, vecs, path) => SimilarityOps.writeQuantIndexFor(s, vecs, path),
    fold = (s, roots, path) =>
      roots
        .map(p => T.parquet(s, p)
          .select(
            col("vec_id"), col("embedding"), col("n2"),
            col("bucket"), col("qv")))
        .reduce(_ unionByName _)
        .repartition(col("bucket"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(path))

  /** Seed / continuous maintenance / serve / compaction for the
    * quantized scan tier (kernel protocol — the [[AnnFamily]] notes
    * apply verbatim).
    */
  def seedQuantIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit =
    graft.index.GenLog.seed(s, QuantFamily, base, indexDir)

  def quantIndexStreamWriter(
      vectors: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(vectors, QuantFamily, indexDir, checkpoint)

  private[graft] def quantGenerationRoots(
      s: SparkSession,
      indexDir: String): Seq[String] =
    graft.index.GenLog.roots(s, indexDir, what = "quantized index")

  def serveQuantContinuous(
      s: SparkSession,
      indexDir: String,
      probes: DataFrame): DataFrame =
    SimilarityOps.serveQuantBatchMulti(s, quantGenerationRoots(s, indexDir), probes)

  def compactQuantIndex(s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, QuantFamily, keepFulls)

  /** IVF family — the last similarity index without a continuous path.
    * Unlike the sign-bucket families, a cell assignment DEPENDS on model
    * state: the coarse quantizer. The streaming contract fixes it per
    * EPOCH — every generation assigns against the newest full snapshot's
    * codebook (readable at write time; compaction copies it forward), so
    * increments stay generation-local and merge-on-read stays exact.
    * Retraining the quantizer is an epoch roll (re-seed + backfill), not
    * a streaming operation — the standard IVF production contract.
    */
  private def ivfFamily(indexDir: String) = graft.index.GenLog.GenFamily(
    write = (s, vecs, path) => {
      val cb = T.parquet(s,
        s"${graft.index.GenLog.roots(s, indexDir, "IVF index").head}/codebook")
      SimilarityOps.writeIvfCellsFrom(s, vecs, cb, path)
    },
    fold = (s, roots, path) => {
      roots
        .map(p => T.parquet(s, s"$p/cells")
          .select(
            col("vec_id"), col("embedding"), col("n2"), col("cell")))
        .reduce(_ unionByName _)
        .repartition(col("cell"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(s"$path/cells")
      T.parquet(s, s"${roots.head}/codebook")
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/codebook")
    })

  /** Seed the continuous IVF index: cells + the epoch codebook as the
    * committed v0 full snapshot. `cents` is the epoch quantizer — the
    * stand-in first-k rows for the oracle family, or a
    * [[SimilarityOps.trainCodebook]] result for the production path.
    */
  def seedIvfIndex(
      s: SparkSession,
      base: DataFrame,
      cents: DataFrame,
      indexDir: String): Unit = {
    val p = s"$indexDir/v0/full"
    // raw (vec_id, embedding) is the kernel contract — writeIvfCellsFrom
    // derives n2 itself
    SimilarityOps.writeIvfIndexFrom(
      s, base.select(col("vec_id"), col("embedding")), cents, p)
    graft.index.GenLog.markCommitted(s, p)
  }

  /** Continuous IVF maintenance: each micro-batch assigns its vectors
    * against the epoch codebook and commits its own cell-partitioned
    * generation — O(batch) work, the base never re-read or rewritten.
    */
  def ivfIndexStreamWriter(
      vectors: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(vectors, ivfFamily(indexDir), indexDir, checkpoint)

  private[graft] def ivfGenerationRoots(
      s: SparkSession,
      indexDir: String): Seq[String] =
    graft.index.GenLog.roots(s, indexDir, what = "IVF index")

  /** Serve a probe batch from the continuous IVF index — merge-on-read
    * through the same pruned cell union [[SimilarityOps.serveIvfBatchMulti]]
    * the static serve uses.
    */
  def serveIvfContinuous(
      s: SparkSession,
      indexDir: String,
      probeVecs: DataFrame): DataFrame =
    SimilarityOps.serveIvfBatchMulti(s, ivfGenerationRoots(s, indexDir), probeVecs)

  /** Compaction for the continuous IVF index (kernel protocol; the fold
    * carries the epoch codebook forward).
    */
  def compactIvfIndex(s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, ivfFamily(indexDir), keepFulls)

  /** The EPOCH ROLL — the operation the streaming contract defers
    * quantizer retraining to: reassign every vector across the current
    * generation roots against a NEW codebook (e.g. a fresh
    * [[SimilarityOps.trainCodebook]] result over the grown corpus) into
    * a NEW index directory, whose committed v0 full snapshot becomes the
    * new epoch's seed. Blue/green by construction — the production
    * deployment shape: the new directory is invisible until its marker
    * lands (a crashed roll leaves the old epoch serving, untouched), the
    * caller switches serving to `newIndexDir` and restarts the ingest
    * stream against it with a fresh checkpoint (new generations then
    * assign against the new codebook automatically, and version
    * numbering restarts cleanly — an in-place roll would collide with
    * the old checkpoint's batch numbering: a post-roll gen landing at or
    * below the roll's version would be silently superseded).
    */
  def rollIvfEpoch(
      s: SparkSession,
      indexDir: String,
      newCents: DataFrame,
      newIndexDir: String): Unit = {
    val vectors = ivfGenerationRoots(s, indexDir)
      .map(p => T.parquet(s, s"$p/cells")
        .select(col("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val p = s"$newIndexDir/v0/full"
    SimilarityOps.writeIvfIndexFrom(s, vectors, newCents, p)
    graft.index.GenLog.markCommitted(s, p)
  }

  /** SEMANTIC dedup family (SemDeDup) — the seventh generation family.
    * Model state = the epoch codebook (the first-k base vectors,
    * k = max(16, ⌈√N_base⌉), pinned at seed — the IVF epoch contract;
    * retraining is an epoch roll). What makes this family special: the
    * anchor rule is MONOTONE in vec_id and ingest ids are monotone
    * across batches, so each batch's survivor set is FINAL at commit
    * time — a generation carries its cell-partitioned members AND its
    * survivor log, witness probes read only the batch's cells from each
    * prior root (INSET partition pruning), and the continuous survivor
    * set is the plain UNION of survivor artifacts, exactly ≡ the
    * monolithic rebuild under the epoch codebook
    * (StreamingSemanticSpec). Retry-safe: if a crashed batch already
    * committed its generation, the retry EXCLUDES its own target path
    * from the witness roots (reading it would race the overwrite of
    * $path/cells) — sound because strict a < b excludes self-pairs and
    * every cross-witness the stale copy could contribute is already
    * contributed by the batch-internal leg, so the overwrite reproduces
    * the identical artifacts.
    */
  private[graft] def semFamily(indexDir: String) = graft.index.GenLog.GenFamily(
    write = (s, batch, path) => {
      // At-least-once retry: if this generation COMMITTED before the
      // crash, roots() now includes `path` itself — and the lazy witness
      // scan over that stale self-copy would race this write's own
      // Overwrite of $path/cells (the cached file listing hits deleted
      // part files → FileNotFoundException on every restart). Drop it:
      // the batch is unioned into the witness set inside
      // writeSemGeneration, so every cross-witness the stale copy could
      // contribute is already contributed by the batch-internal leg, and
      // strict a < b excludes self-pairs — the retry reproduces the
      // identical artifacts without ever reading its own target.
      val roots = graft.index.GenLog
        .roots(s, indexDir, "semantic index")
        .filterNot(_ == path)
      val cents = T.parquet(s, s"${roots.head}/cents")
      SimilarityOps.writeSemGeneration(s, batch, cents, roots, path)
    },
    fold = (s, roots, path) => {
      roots
        .map(p => T.parquet(s, s"$p/cells")
          .select(
            col("vec_id"), col("embedding"), col("n2"),
            col("cell").cast("long").as("cell")))
        .reduce(_ unionByName _)
        .repartition(col("cell"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(s"$path/cells")
      roots
        .map(p => T.parquet(s, s"$p/survivors"))
        .reduce(_ unionByName _)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/survivors")
      T.parquet(s, s"${roots.head}/cents")
        .coalesce(1)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/cents")
    })

  /** Seed the continuous semantic-dedup index: epoch codebook + base
    * cells + base survivor log as the committed v0 full snapshot.
    */
  def seedSemanticIndex(s: SparkSession, base: DataFrame, indexDir: String): Unit = {
    val p = s"$indexDir/v0/full"
    SimilarityOps.writeSemSeed(s, base, p)
    graft.index.GenLog.markCommitted(s, p)
  }

  /** Continuous semantic-dedup maintenance: each micro-batch assigns
    * against the epoch codebook, probes prior cells for witnesses, and
    * commits its own generation (members + final survivor log) —
    * O(batch + probed slice) work, the base never re-read in full.
    */
  def semanticIndexStreamWriter(
      vectors: DataFrame,
      indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(vectors, semFamily(indexDir), indexDir, checkpoint)

  private[graft] def semGenerationRoots(
      s: SparkSession,
      indexDir: String): Seq[String] =
    graft.index.GenLog.roots(s, indexDir, what = "semantic index")

  /** The maintained corpus-wide survivor set: the union of per-root
    * survivor logs (final at commit under the monotone anchor rule), in
    * q_dedup_semantic's output shape.
    */
  def serveSemanticContinuous(s: SparkSession, indexDir: String): DataFrame =
    semGenerationRoots(s, indexDir)
      .map(p => T.parquet(s, s"$p/survivors"))
      .reduce(_ unionByName _)
      .orderBy(col("vec_id"))

  /** Compaction (kernel protocol; the fold carries the epoch codebook
    * forward and concatenates the survivor logs — both read-invariant).
    */
  def compactSemanticIndex(s: SparkSession, indexDir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, indexDir, semFamily(indexDir), keepFulls)

  /** The cluster report served from the MAINTAINED semantic index
    * (q_cluster_stats' shape): member counts from the cells artifacts,
    * survivor counts from the survivor logs, merge-on-read — no
    * recomputation of assignments or witnesses. Pinned to the index's
    * epoch codebook (the batch query re-derives k over the current
    * corpus; an epoch roll re-aligns them).
    */
  def serveClusterStatsContinuous(s: SparkSession, indexDir: String): DataFrame = {
    val roots = semGenerationRoots(s, indexDir)
    val members = roots
      .map(p => T.parquet(s, s"$p/cells")
        .select(col("vec_id"), col("cell").cast("long").as("cell")))
      .reduce(_ unionByName _)
    val kept = roots
      .map(p => T.parquet(s, s"$p/survivors"))
      .reduce(_ unionByName _)
    members
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(
        kept.groupBy(col("cell")).agg(count(lit(1)).as("n_kept")),
        Seq("cell"),
        "left")
      .select(
        col("cell"),
        col("n_vecs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("cell"))
  }

  /** The EPOCH ROLL: re-seed a NEW index directory from every vector
    * across the current roots — k and the codebook re-derive from the
    * GROWN corpus (that is the retrain), survivors recompute under the
    * new epoch, and the old epoch keeps serving untouched until the
    * caller switches (the [[rollIvfEpoch]] blue/green contract).
    */
  def rollSemanticEpoch(
      s: SparkSession,
      indexDir: String,
      newIndexDir: String): Unit =
    seedSemanticIndex(
      s,
      semGenerationRoots(s, indexDir)
        .map(p => T.parquet(s, s"$p/cells")
          .select(col("vec_id"), col("embedding")))
        .reduce(_ unionByName _),
      newIndexDir)

  /** The TRAINED epoch roll — production retraining, the
    * q_dedup_semantic_trained quantizer lifted to the continuous
    * pipeline: Lloyd-train a NEW codebook over every vector across the
    * current roots ([[SimilarityOps.trainCodebook]], k = max(16, ⌈√N⌉)
    * re-derived from the grown corpus), re-assign and re-prune
    * everything under it, and seed `newIndexDir` blue/green (the
    * [[rollIvfEpoch]] contract: invisible until the marker lands, the
    * old epoch serves untouched, ingest restarts against the new
    * directory with a fresh checkpoint and post-roll batches assign
    * against the TRAINED codebook automatically).
    */
  def rollSemanticEpochTrained(
      s: SparkSession,
      indexDir: String,
      newIndexDir: String): Unit = {
    val p = s"$newIndexDir/v0/full"
    SimilarityOps.writeSemSeedTrained(
      s,
      semGenerationRoots(s, indexDir)
        .map(r => T.parquet(s, s"$r/cells")
          .select(col("vec_id"), col("embedding")))
        .reduce(_ unionByName _),
      p)
    graft.index.GenLog.markCommitted(s, p)
  }

  /** Boilerplate shingle-stats family — the continuous lift of
    * q_text_boilerplate: each micro-batch persists its docs' per-doc
    * 3-shingle occurrence counts ([[TextOps.shingleCountsOf]] — O(batch)
    * work and bytes, no prior state read), and because every document is
    * wholly in one batch and shingle DOCUMENT-frequency is additive over
    * disjoint doc sets, merge-on-read over the generation roots recovers
    * the exact corpus-wide report: old documents' boiler counts rise as
    * new documents push shared shingles over the threshold, with no
    * recomputation of any generation. Fold = concatenation (doc sets
    * disjoint), so compaction is read-invariant by construction.
    */
  private[graft] val BoilerFamily = graft.index.GenLog.GenFamily(
    write = (_, docsRows, path) =>
      TextOps.shingleCountsOf(docsRows)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path),
    fold = (s, roots, path) =>
      T.parquet(s, roots: _*)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path))

  /** Seed the continuous boilerplate stats: the base corpus's counts as
    * the committed v0 full snapshot.
    */
  def seedBoilerplateStats(s: SparkSession, base: DataFrame, dir: String): Unit =
    graft.index.GenLog.seed(s, BoilerFamily, base, dir)

  /** Continuous maintenance (kernel protocol; see the family note). */
  def boilerplateStreamWriter(
      docs: DataFrame,
      dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(docs, BoilerFamily, dir, checkpoint)

  /** The corpus-wide boilerplate report served merge-on-read from the
    * maintained counts — ≡ the monolithic q_text_boilerplate over the
    * union of all ingested documents at every point in time
    * (StreamingBoilerplateSpec).
    */
  def serveBoilerplateContinuous(s: SparkSession, dir: String): DataFrame =
    TextOps.boilerplateReportOf(
      T.parquet(s,
        graft.index.GenLog.roots(s, dir, what = "boilerplate stats"): _*))

  /** The corpus-scale (df-fraction) report from the SAME maintained
    * counts — the threshold is derived from the served state's document
    * count at read time, so it rises automatically as the stream grows
    * the corpus: no family change, no re-seed, one serve-side knob.
    */
  def serveBoilerplateFracContinuous(s: SparkSession, dir: String): DataFrame =
    TextOps.boilerplateFracReportOf(
      T.parquet(s,
        graft.index.GenLog.roots(s, dir, what = "boilerplate stats"): _*))

  /** Compaction (kernel protocol; fold = concatenation). */
  def compactBoilerplateStats(s: SparkSession, dir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, dir, BoilerFamily, keepFulls)

  /** Bigram-count family — the continuous lift of q_lm_bigram: each
    * micro-batch persists its docs' (w1, w2, cf2) pair counts
    * ([[LmOps.bigramCountsOf]] — O(batch) work and bytes, no prior
    * state read). Bigrams are within-document, so pair counts are
    * additive over disjoint doc sets and merge-on-read re-aggregation
    * recovers the exact corpus model; fold re-aggregates (the
    * ReportFamily pattern — the snapshot stays O(bigram types), not
    * O(generations)). Left-context totals cfl(w1) are derived at serve
    * time from the same counts, never stored. Unlike the unigram model
    * (which rides the bm25 postings for free), pair adjacency is not in
    * any existing state — this is the family that carries it.
    */
  private[graft] val BigramFamily = graft.index.GenLog.GenFamily(
    // payload keyed (split, w1, w2): splits partition the doc set, so
    // summing cf2 over split recovers the corpus counts exactly while
    // filtering split = 'train' serves q_lm_bigram_apply's train-only
    // model from the SAME state — at most 3× the pair-type rows for a
    // second first-class serve (LmOps.bigramCountsSplitOf)
    write = (_, docsRows, path) =>
      LmOps.bigramCountsSplitOf(docsRows)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path),
    fold = (s, roots, path) =>
      T.parquet(s, roots: _*)
        .groupBy(col("split"), col("w1"), col("w2"))
        .agg(sum(col("cf2")).as("cf2"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path))

  /** Seed the continuous bigram counts: the base corpus as v0. */
  def seedBigramStats(s: SparkSession, base: DataFrame, dir: String): Unit =
    graft.index.GenLog.seed(s, BigramFamily, base, dir)

  /** Continuous maintenance (kernel protocol; see the family note). */
  def bigramStreamWriter(
      docs: DataFrame,
      dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(docs, BigramFamily, dir, checkpoint)

  /** The conditional model served merge-on-read from the maintained
    * counts — ≡ the monolithic q_lm_bigram over the union of all
    * ingested documents at every point in time (StreamingLmSpec).
    */
  def serveLmBigramContinuous(s: SparkSession, dir: String): DataFrame =
    LmOps.lmBigramFromCounts(
      T.parquet(s,
        graft.index.GenLog.roots(s, dir, what = "bigram stats"): _*))

  /** q_lm_bigram_apply served from the SAME maintained counts: the
    * split-keyed payload filtered to split = 'train' IS the train-only
    * pair model (merge-on-read re-aggregation restores exact counts),
    * and the eval docs score against it through the registry's own seam
    * — cross-split leakage protection with no second state
    * (StreamingLmSpec asserts ≡ the registry query at every stage).
    */
  def serveLmBigramApplyContinuous(
      s: SparkSession,
      dir: String,
      allDocs: DataFrame): DataFrame =
    LmOps.lmBigramApplyFromCounts(
      T.parquet(s, graft.index.GenLog.roots(s, dir, what = "bigram stats"): _*)
        .filter(col("split") === "train")
        .select(col("w1"), col("w2"), col("cf2")),
      allDocs)

  /** q_lm_kn served from the SAME maintained pair counts: every
    * Kneser-Ney model quantity (cfl, n1, ncont, npairs) derives from the
    * pair-count table alone, so the split-keyed bigram state
    * (re-aggregated merge-on-read) is the WHOLE model input — the
    * smoothed production LM is one more serve on the state, no new
    * stream, no corpus re-read (StreamingLmSpec asserts ≡ the registry
    * query at every stage).
    */
  def serveLmKnContinuous(
      s: SparkSession,
      dir: String,
      allDocs: DataFrame): DataFrame =
    LmOps.lmKnFromCounts(
      T.parquet(s, graft.index.GenLog.roots(s, dir, what = "bigram stats"): _*)
        .select(col("w1"), col("w2"), col("cf2")),
      allDocs)

  /** q_lm_interp served from BOTH maintained states: pair counts from
    * the bigram family (split-keyed rows re-aggregated), unigram counts
    * and the token total from the lexical postings family (cf1 = Σ tf,
    * lt = Σ stats.l — exact by the tf-grouping identity) — the
    * Jelinek-Mercer mixture composes two states the pipeline already
    * maintains, no new stream.
    */
  def serveLmInterpContinuous(
      s: SparkSession,
      bigramDir: String,
      indexDir: String,
      allDocs: DataFrame): DataFrame = {
    val (postings, nTotal) = lmFrames(s, indexDir)
    LmOps.lmInterpFromCounts(
      T.parquet(s, graft.index.GenLog.roots(s, bigramDir, what = "bigram stats"): _*)
        .select(col("w1"), col("w2"), col("cf2")),
      postings.groupBy(col("term").as("w2")).agg(sum(col("tf")).as("cf1")),
      nTotal.select(col("n_total").as("lt")),
      allDocs)
  }

  /** Compaction (kernel protocol; fold = re-aggregation). */
  def compactBigramStats(s: SparkSession, dir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, dir, BigramFamily, keepFulls)

  /** Passage-gram family — the continuous lift of q_text_passage_dup
    * and the TENTH family on the kernel: each micro-batch persists its
    * docs' positioned 5-gram rows ([[TextOps.passageGramsOf]] — O(batch)
    * work and bytes, no prior state read). Every document is wholly in
    * one batch and gram DOCUMENT-frequency is a distinct-count over
    * disjoint doc sets, so merge-on-read over the generation roots
    * recovers the exact corpus-wide coverage report — with the same
    * RETROACTIVE property as the boilerplate stats: an OLD document's
    * dup_frac rises the moment a new batch carries its passage (the
    * 5-gram crosses the 2-distinct-docs bar), no generation recomputed.
    * Fold = concatenation (disjoint doc sets), so compaction is
    * read-invariant by construction.
    *
    * The persisted gram key is NOT the 5-token string: every consumer
    * (duplication report, spans, min-match-length variants, the
    * decontamination scrub) uses only gram EQUALITY plus positions, so
    * the state stores a 16-byte md5 fingerprint — `unhex(md5(g5))`,
    * BinaryType. The full string would cost ~K× the corpus text bytes
    * per generation (every token position carries its 5-token window);
    * the fingerprint caps the key at 16 B — on real text, where 5-grams
    * are mostly corpus-unique and parquet dictionaries fall back to
    * plain encoding, that is the on-disk AND shuffle width (128-bit
    * keeps cross-gram collisions negligible at 100 TB gram counts where
    * 64-bit demonstrably would not: ~10¹³ grams → birthday ≈ certain at
    * 64 bits, ≈ 10⁻¹³ at 128). StreamingPassageSpec pins the slim
    * schema, the logical-width shrink, and serve ≡ registry for every
    * consumer.
    */
  private[graft] val PassageFamily = graft.index.GenLog.GenFamily(
    write = (_, docsRows, path) =>
      TextOps.passageGramsOf(docsRows)
        .withColumn("g5", unhex(md5(col("g5"))))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path),
    fold = (s, roots, path) =>
      T.parquet(s, roots: _*)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path))

  /** Seed the continuous passage grams: the base corpus as v0. */
  def seedPassageGrams(s: SparkSession, base: DataFrame, dir: String): Unit =
    graft.index.GenLog.seed(s, PassageFamily, base, dir)

  /** Continuous maintenance (kernel protocol; see the family note). */
  def passageStreamWriter(
      docs: DataFrame,
      dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.index.GenLog.streamWriter(docs, PassageFamily, dir, checkpoint)

  /** The corpus-wide passage-duplication report served merge-on-read
    * from the maintained grams — ≡ the monolithic q_text_passage_dup
    * over the union of all ingested documents at every point in time.
    */
  def servePassageDupContinuous(s: SparkSession, dir: String): DataFrame =
    TextOps.passageDupReportOf(passageState(s, dir))

  /** The maximal scrub spans served from the same maintained grams
    * (≡ q_text_passage_spans over the union at every point in time).
    */
  def servePassageSpansContinuous(s: SparkSession, dir: String): DataFrame =
    TextOps.passageSpansOf(passageState(s, dir))

  /** The corpus-scale ≥50-token-match report served from the SAME
    * maintained grams (≡ q_text_passage_dup50 over the union): the
    * min-match-length contract is a serve-side knob on one state — the
    * q_text_boilerplate_frac precedent, no re-seed, no second family.
    */
  def servePassageDup50Continuous(s: SparkSession, dir: String): DataFrame =
    TextOps.passageMinlenReportOf(passageState(s, dir))

  /** The ≥50-token scrub spans from the same state (≡ q_text_passage_spans50). */
  def servePassageSpans50Continuous(s: SparkSession, dir: String): DataFrame =
    TextOps.passageMinlenSpansOf(passageState(s, dir))

  /** The scrubbed corpus served from the maintained grams plus a text
    * frame (the curated lake): spans come merge-on-read from the gram
    * state, the deletion itself is the within-row kernel — the corpus
    * is never re-grammed (≡ q_text_scrub50 over the union at every
    * point in time; the publish output a curation stream ships).
    */
  def serveScrub50Continuous(s: SparkSession, dir: String, docsDf: DataFrame): DataFrame =
    TextOps.scrubWithSpans(
      docsDf,
      TextOps.passageMinlenSpansOf(passageState(s, dir)))

  private def passageState(s: SparkSession, dir: String): DataFrame =
    T.parquet(s,
      graft.index.GenLog.roots(s, dir, what = "passage grams"): _*)

  /** Compaction (kernel protocol; fold = concatenation). */
  def compactPassageGrams(s: SparkSession, dir: String, keepFulls: Int = 2): Unit =
    graft.index.GenLog.compact(s, dir, PassageFamily, keepFulls)

  /** The eval-set decontamination spans served from the SAME maintained
    * passage grams — the split label is a pure function of doc_id (the
    * q_split_assign hash ladder), so it is re-derived at read time and
    * the one gram state serves both the duplication report and the
    * scrub: a train document ingested TODAY retroactively contaminates
    * an eval document ingested last month, with no generation recompute
    * (≡ the monolithic q_split_decontaminate over the union at every
    * point in time).
    */
  def serveDecontaminateContinuous(s: SparkSession, dir: String): DataFrame =
    TextOps.decontaminateSpansOf(passageState(s, dir))

  /** q_dedup_passage_cc served from the SAME maintained passage grams —
    * no second persisted family: a 50-token window is exactly 46
    * consecutive gram fingerprints ([[TextOps.windowFingerprintsFromGrams]]),
    * so the edge witness re-derives merge-on-read from the state, the
    * closure runs on the same ccAssign kernel, and the doc universe
    * comes from the curated lake (the scrub-serve pattern: one state,
    * one lake, the corpus never re-grammed). Retroactive like every
    * serve on this state: a newly ingested copy of an OLD document's
    * passage links the old document the moment the batch commits.
    */
  def servePassageCcContinuous(
      s: SparkSession, dir: String, docsDf: DataFrame): DataFrame =
    DedupOps.passageCcFromOcc(
      s,
      TextOps.windowFingerprintsFromGrams(passageState(s, dir)),
      docsDf.select(col("doc_id")))

  /** Targets of the composed continuous VECTOR program — the embeddings
    * side of [[CorpusPipeline]]: all five vector index families (float
    * ANN buckets, int8 quantized scan tier, IVF cells, semantic-dedup
    * cells + survivor log, id-sharded store) maintained from ONE stream
    * in ONE foreachBatch, so the feed is read once per micro-batch
    * instead of five times through five standalone writers.
    */
  case class VectorPipeline(
      annDir: String,
      quantDir: String,
      ivfDir: String,
      semDir: String,
      storeDir: String)

  /** Seed every vector family from yesterday's corpus. `cents` is the
    * IVF epoch quantizer (the q_sim_ivf stand-in or a
    * [[SimilarityOps.trainCodebook]] result); the semantic family
    * derives its own epoch codebook from the base (k = max(16, ⌈√N⌉)).
    */
  def seedVectorPipeline(
      s: SparkSession,
      base: DataFrame,
      cents: DataFrame,
      p: VectorPipeline): Unit = {
    seedAnnIndex(s, base, p.annDir)
    seedQuantIndex(s, base, p.quantDir)
    seedIvfIndex(s, base, cents, p.ivfDir)
    seedSemanticIndex(s, base, p.semDir)
    seedEmbStoreIndex(s, base, p.storeDir)
  }

  /** ONE micro-batch through all five vector maintenance legs — each
    * leg is the same [[graft.index.GenLog.commitGeneration]] body its
    * standalone writer runs, so composed and single-family streams
    * share one implementation and per-leg idempotence
    * (overwrite-then-mark per batchId) is inherited unchanged.
    */
  def vectorPipelineBatch(
      batch0: DataFrame,
      batchId: Long,
      p: VectorPipeline): Unit =
    if (!batch0.isEmpty)
      vectorLegs(batch0.localCheckpoint(true), batchId, p)

  /** The five vector legs over an already-materialized batch — shared
    * verbatim between the standalone vector program and the unified
    * text+vector program.
    */
  private[graft] def vectorLegs(
      batch: DataFrame,
      batchId: Long,
      p: VectorPipeline): Unit = {
    graft.index.GenLog.commitGeneration(AnnFamily, batch, p.annDir, batchId)
    graft.index.GenLog.commitGeneration(QuantFamily, batch, p.quantDir, batchId)
    graft.index.GenLog.commitGeneration(
      ivfFamily(p.ivfDir), batch, p.ivfDir, batchId)
    graft.index.GenLog.commitGeneration(
      semFamily(p.semDir), batch, p.semDir, batchId)
    graft.index.GenLog.commitGeneration(EmbStoreFamily, batch, p.storeDir, batchId)
  }

  /** The composed vector program as a stream writer: feed it the vector
    * stream and start. The daily loop is stop →
    * [[compactVectorPipeline]] → restart from the same checkpoint.
    */
  def vectorPipelineWriter(
      vectors: DataFrame,
      p: VectorPipeline,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        vectorPipelineBatch(batch, batchId, p)
        ()
      }

  /** Compact all five families (kernel protocol, stopped-stream
    * cadence).
    */
  def compactVectorPipeline(s: SparkSession, p: VectorPipeline): Unit = {
    compactAnnIndex(s, p.annDir)
    compactQuantIndex(s, p.quantDir)
    compactIvfIndex(s, p.ivfDir)
    compactSemanticIndex(s, p.semDir)
    compactEmbStoreIndex(s, p.storeDir)
  }

  // ───────────────── the unified text+vector program ─────────────────

  /** ONE production ingest maintaining BOTH sides of the lake: the
    * thirteen maintained families — curated lake, near-dup index, postings (membership + positional),
    * boilerplate/passage/bigram frequency state, report summary (the
    * [[CorpusPipeline]] legs) and float ANN buckets, int8 quantized tier,
    * IVF cells, semantic cells + survivors, id-sharded store (the
    * [[VectorPipeline]] legs) — fed by one document stream, committed in
    * one foreachBatch. This is the production shape: a real ingest is one
    * feed of documents with at-ingest embeddings, not one stream per
    * modality; the feed is read (and checkpointed) ONCE per micro-batch
    * for all thirteen consumers, and every leg keeps its O(batch)
    * generation discipline, per-batchId idempotence, and day-2
    * compaction contract unchanged — the legs are shared verbatim with
    * the standalone programs ([[corpusLegs]] / [[vectorLegs]]).
    */
  case class UnifiedPipeline(corpus: CorpusPipeline, vectors: VectorPipeline)

  /** The unified feed: curated survivor documents enriched with their
    * vectors by a stream-static join against the embedding source (the
    * at-ingest embedding-lookup seam — embeddings for this corpus are a
    * precomputed table keyed vec_id ≡ doc_id; a live embedder would bind
    * the same seam). LEFT join: a document without a vector still flows
    * to every text leg; the vector legs take only embedded rows. The join
    * is stream-static (no watermark interaction, no state) and the static
    * side's scan prunes to the id and payload columns.
    */
  def liftUnifiedFeed(
      s: SparkSession,
      sourceDir: String,
      embSource: DataFrame,
      options: Map[String, String] = Map.empty): DataFrame = {
    val emb = embSource.select(col("vec_id"), col("embedding"), col("label"))
    liftCuratedDocs(s, sourceDir, options)
      .join(emb, col("doc_id") === emb("vec_id"), "left")
  }

  /** ONE micro-batch through all thirteen legs: one materialization, the
    * eight corpus legs (phrase leg optional via `phraseIndexDir`) on the
    * full batch, the five vector legs on the embedded rows re-keyed to
    * the vector schema.
    */
  def unifiedPipelineBatch(
      batch0: DataFrame,
      batchId: Long,
      p: UnifiedPipeline): Unit =
    if (!batch0.isEmpty) {
      val batch = batch0.localCheckpoint(true) // thirteen consumers below
      corpusLegs(batch, batchId, p.corpus)
      val vecs = batch
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"), col("label"))
      if (!vecs.isEmpty) vectorLegs(vecs, batchId, p.vectors)
    }

  /** Seed both sides from yesterday's batch-curated corpus: the corpus
    * seed over the curated documents, the vector seed over exactly the
    * curated documents' embeddings — the unified program's invariant is
    * that the vector tier indexes the SURVIVOR set, not the raw feed.
    */
  def seedUnifiedPipeline(
      s: SparkSession,
      curatedBase: DataFrame,
      embSource: DataFrame,
      cents: DataFrame,
      p: UnifiedPipeline): Unit = {
    seedCorpusPipeline(s, curatedBase, p.corpus)
    val emb = embSource.select(col("vec_id"), col("embedding"), col("label"))
    seedVectorPipeline(
      s,
      emb.join(
        curatedBase.select(col("doc_id")),
        emb("vec_id") === col("doc_id"),
        "left_semi"),
      cents,
      p.vectors)
  }

  /** The unified program as a stream writer: feed it [[liftUnifiedFeed]]
    * and start. Day-2 is stop → [[compactUnifiedPipeline]] → restart from
    * the same checkpoint.
    */
  def unifiedPipelineWriter(
      feed: DataFrame,
      p: UnifiedPipeline,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        unifiedPipelineBatch(batch, batchId, p)
        ()
      }

  /** Stopped-stream compaction for all thirteen families. */
  def compactUnifiedPipeline(s: SparkSession, p: UnifiedPipeline): Unit = {
    compactDedupIndex(s, p.corpus.dedupIndexDir)
    compactBm25Index(s, p.corpus.bm25IndexDir)
    if (p.corpus.phraseIndexDir.nonEmpty)
      compactPhraseIndex(s, p.corpus.phraseIndexDir)
    compactCorpusReport(s, p.corpus.reportSummaryDir)
    compactVectorPipeline(s, p.vectors)
  }

  /** update-mode stream → keyed JDBC upsert: the streaming CDC-apply.
    * Each micro-batch's changed rows go through
    * [[Sinks.upsertSnapshotJdbc]], whose replace-by-key idempotence makes
    * batch retries and full reprocessing converge instead of duplicate —
    * the update-sink counterpart of the append sink
    * StreamingPipelineSpec proves.
    */
  def upsertStreamWriter(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Sinks.upsertSnapshotJdbc(batch, url, table, keys)
      }

  /** Custom-state streaming via `flatMapGroupsWithState` — the API tier
    * below the built-in window/dedup operators, for state machines the
    * built-ins can't express. Demonstrated here as per-user lifetime event
    * totals with an event-time timeout: each micro-batch folds its rows
    * into a (count, max event time) state per user, arms a timeout one
    * hour past the user's newest event, and emits the final total exactly
    * once when the watermark passes it — i.e. when the 7-day late-data
    * horizon closes the user's activity. State is one (long, long) per
    * live user, evicted on emission: bounded by active users, not corpus
    * size. Batch equivalent: `groupBy(user_id).count()`
    * (StreamingLiftDedupSessionSpec proves equality).
    */
  def liftUserTotals(
      s: SparkSession,
      sourceDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    eventsStream(s, sourceDir, options)
      .select($"user_id", $"ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long,
         rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, _) = state.get
            state.remove()
            Iterator.single((uid, n))
          } else {
            var (n, maxTs) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { r =>
              n += 1
              maxTs = math.max(maxTs, r._2.getTime)
            }
            state.update((n, maxTs))
            state.setTimeoutTimestamp(maxTs + 3600L * 1000)
            Iterator.empty
          }
      }
      .toDF("user_id", "n")
  }

  /** The session_window aggregation shape shared by the batch and stream
    * forms of the session lift: 30-minute-gap sessions per user. Spark's
    * native gap-based session operator — at scale this is state-store
    * sessionization with watermark eviction instead of a full-corpus
    * window sort.
    */
  def sessionWindowAgg(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select(
        $"user_id",
        $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"),
        $"n_events")
  }

  /** Streaming lift of sessionization via session_window (the stream form
    * of q_stream_session; append mode emits a session once the watermark
    * passes its close).
    */
  def liftSession(
      s: SparkSession,
      sourceDir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    sessionWindowAgg(eventsStream(s, sourceDir, options))

  private val SessionSql =
    "SELECT user_id, session_no, COUNT(*) AS n_events, " +
      "MIN(ts) AS session_start, MAX(ts) AS session_end FROM (" +
      "SELECT user_id, event_id, ts, " +
      "CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no FROM (" +
      "SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, " +
      "CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - " +
      "epoch_us(lag(CAST(ts AS TIMESTAMP), 1) OVER " +
      "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)) > 1800000000 " +
      "THEN 1 " +
      "WHEN lag(CAST(ts AS TIMESTAMP), 1) OVER " +
      "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1 " +
      "ELSE 0 END AS new_session FROM events)) " +
      "GROUP BY user_id, session_no ORDER BY user_id, session_no"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_stream_tumble",
      streamTumble,
      Some(
        "SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start, " +
          "event_type, COUNT(*) AS n, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")),
    QueryDef(
      "q_stream_slide",
      streamSlide,
      Some(
        "SELECT ws AS win_start, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users " +
          "FROM (SELECT user_id, " +
          "unnest(generate_series(CAST(CAST(ts AS DATE) AS TIMESTAMP) - INTERVAL 6 DAY, " +
          "CAST(CAST(ts AS DATE) AS TIMESTAMP), INTERVAL 1 DAY)) AS ws " +
          "FROM events) GROUP BY ws ORDER BY ws")),
    QueryDef("q_stream_session", streamSession, Some(SessionSql)),
    QueryDef("q_stream_join", streamJoin, Some(JoinSql)),
    QueryDef(
      "q_stream_dedup",
      streamDedup,
      Some(
        "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, " +
          "value, props FROM events " +
          "QUALIFY row_number() OVER (PARTITION BY user_id, event_type " +
          "ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1 ORDER BY event_id"))
  )
}
