package graft.ops

import graft.{QueryDef, T, X}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier C corpus-curation family (charter: "the operations a large-scale
  * training-data pipeline would need"): deterministic mixture sampling
  * (domain re-weighting) and sequence packing (context-window accounting).
  * Both are pure functions of the row key — no RNG state, so a retry, a
  * re-run, or a different partitioning of the same 100 TB corpus selects
  * the identical sample and the identical packing.
  */
object CurationOps {

  import Hashing._

  private def docs(s: SparkSession, d: String) = T(s, d, "documents")

  /** Salted md5-derived bucket in [0, m): independent across salts, so the
    * mix sample, the pack shard and the pack order don't correlate with
    * each other or with q_sample_hash / q_split_assign.
    */
  private def hkey(salt: String): Column =
    h32(concat(col("doc_id").cast("string"), lit("|" + salt)))

  private def hkeySql(salt: String): String =
    h32Sql(s"concat(CAST(doc_id AS VARCHAR), '|$salt')")

  /** The corpus-quality gate shared by the batch corpus build
    * (q_pipeline_corpus2) and the curated stream
    * ([[StreamOps.liftCuratedDocs]]): minimum length, lexical
    * diversity, and the q_text_repetition signals (a document must HAVE
    * bigrams, and its duplicate-bigram and top-bigram fractions must both
    * be ≤ 0.08). Entirely map-side — one fused [[graft.expr.BigramStats]]
    * walk per row — so the gate runs inside the scan stage at any corpus
    * size. Keeps the input columns.
    */
  private[graft] def qualityGate(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df
      .withColumn("q_tk", split(coalesce($"text", lit("")), " "))
      .withColumn("q_bs", graft.expr.BigramStats($"q_tk"))
      .filter(
        $"n_chars" >= 100 &&
          size(array_distinct($"q_tk")).cast("double") /
            size($"q_tk").cast("double") > 0.3 &&
          element_at($"q_bs", 1) > 0 &&
          (element_at($"q_bs", 1) - element_at($"q_bs", 2)).cast("double") /
            element_at($"q_bs", 1).cast("double") <= 0.08 &&
          element_at($"q_bs", 3).cast("double") /
            element_at($"q_bs", 1).cast("double") <= 0.08)
      .drop("q_tk", "q_bs")
  }

  // ---------------------------------------------------------------------
  // q_sample_mix
  // ---------------------------------------------------------------------

  /** Per-language sampling percentages: the training-mix knob (up-weight
    * the languages the run wants more of, down-weight the rest).
    */
  private val MixRates: Seq[(String, Int)] = Seq("en" -> 40, "zh" -> 25)
  private val MixDefault = 10

  /** The mixture predicate: a pure function of the document key, so it
    * gates a batch table and a stream alike.
    */
  private[graft] def mixPredicate: Column = {
    val rate = MixRates.foldLeft(lit(MixDefault): Column) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    pmod(hkey("mix"), lit(100L)) < rate
  }

  /** q_sample_mix — deterministic per-stratum mixture sampling: keep a
    * document iff its salted hash bucket falls under its language's rate.
    * Entirely map-side — the rate ladder and the hash are evaluated inside
    * the scan's stage, so at 100 TB this is a single pass with ZERO
    * shuffles (the orderBy exists only for the oracle compare; a pipeline
    * sink would drop it). Contrast with `df.sample`, whose per-partition
    * RNG state changes the selected set under retries and repartitioning.
    * [[sampleMixOf]] is the body; on [[StreamOps.docsStream]] it is the
    * streaming lift, STATELESS (no state store, no watermark
    * interaction), so a document is selected alike in a batch backfill
    * and on the stream.
    */
  private def sampleMix(s: SparkSession, d: String): DataFrame =
    sampleMixOf(docs(s, d)).orderBy(col("doc_id"))

  private[graft] def sampleMixOf(docsDf: DataFrame): DataFrame =
    docsDf
      .filter(mixPredicate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  private val MixSql = {
    val ladder = MixRates.reverse
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $MixDefault END")
    "SELECT doc_id, lang, source, n_chars FROM documents " +
      s"WHERE ${hkeySql("mix")} % 100 < $ladder ORDER BY doc_id"
  }

  // ---------------------------------------------------------------------
  // q_pack_sequences
  // ---------------------------------------------------------------------

  /** Context-window size (tokens) and shard fan-out for packing. Shards
    * exist so the running sum is per (lang, shard), not per lang: packing
    * has no semantic order requirement (any grouping of whole documents is
    * a valid pack), so sharding by hash makes the window pass
    * embarrassingly parallel — at 100 TB the shard count scales with the
    * cluster instead of one task per language. 512 matches the testdata's
    * 10-99-token documents (~9 docs per window); a production corpus would
    * use 4096/8192.
    */
  private val PackWindow = 512L
  private val PackShards = 4L

  /** q_pack_sequences — greedy concat-and-chunk sequence packing: within
    * each (lang, shard), documents are laid end to end in deterministic
    * salted-hash order and a document belongs to the context window its
    * START offset falls in (documents are never split). Output is the
    * packing account per bin — how many documents and tokens each context
    * window holds (n_tokens may exceed the window by at most the last
    * document's length: the straddle the no-split rule accepts).
    * One hash shuffle (the window) + the oracle sort; the bin is derived
    * from the running sum, so the aggregation reuses the window's
    * partitioning (no extra exchange — plan-asserted).
    */
  private def packSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window
      .partitionBy($"lang", $"shard")
      .orderBy($"hk", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(
        $"doc_id",
        $"lang",
        size(split(coalesce($"text", lit("")), " ")).cast("long").as("n_tok"),
        pmod(hkey("pack"), lit(PackShards)).as("shard"),
        hkey("ord").as("hk"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin", floor(($"cum" - $"n_tok") / lit(PackWindow)))
      .groupBy($"lang", $"shard", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"lang", $"shard", $"bin")
  }

  private val PackSql =
    "WITH t AS (SELECT doc_id, lang, " +
      "CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok, " +
      s"${hkeySql("pack")} % $PackShards AS shard, ${hkeySql("ord")} AS hk FROM documents), " +
      "c AS (SELECT lang, shard, n_tok, sum(n_tok) OVER (PARTITION BY lang, shard " +
      "ORDER BY hk, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
      s"SELECT lang, shard, CAST((cum - n_tok) // $PackWindow AS BIGINT) AS bin, " +
      "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
      "FROM c GROUP BY lang, shard, bin ORDER BY lang, shard, bin"

  // ---------------------------------------------------------------------
  // q_source_filter
  // ---------------------------------------------------------------------

  /** Keep a source iff at most this percentage of its documents are bad
    * (too short). The C4/RefinedWeb pattern: reputation is a property of
    * the SOURCE (domain), decided from corpus-wide stats, then applied to
    * every document from it.
    */
  private val SourceBadPctMax = 10L

  /** q_source_filter — source-reputation filtering: aggregate a bad-document
    * fraction per source, then keep only documents from sources under the
    * threshold. The scale shape is the point: the stats pass scans ONLY
    * (source, n_chars) — column pruning keeps it a fraction of corpus bytes
    * — and its output is one row per source, so the join back onto the
    * full-width scan is a broadcast (no shuffle of the corpus). Integer
    * cross-multiplication (`bad*100 <= docs*pct`) keeps the keep decision
    * float-free and bit-identical in the oracle.
    */
  private def sourceFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stats = docs(s, d)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("src_docs"),
        sum(when($"n_chars" < 100, 1L).otherwise(0L)).as("src_bad"))
      .filter($"src_bad" * 100L <= $"src_docs" * SourceBadPctMax)
    docs(s, d)
      .join(broadcast(stats), "source")
      .select($"doc_id", $"lang", $"source", $"n_chars", $"src_docs", $"src_bad")
      .orderBy($"doc_id")
  }

  private val SourceFilterSql =
    "WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS src_docs, " +
      "CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS src_bad " +
      "FROM documents GROUP BY source) " +
      "SELECT doc_id, lang, source, n_chars, src_docs, src_bad " +
      "FROM documents JOIN st USING (source) " +
      s"WHERE src_bad * 100 <= src_docs * $SourceBadPctMax ORDER BY doc_id"

  // ---------------------------------------------------------------------
  // q_sample_quota
  // ---------------------------------------------------------------------

  /** Exact per-stratum quota. 70 makes the testdata exercise both paths:
    * four languages are clipped to the quota, one (fr, 64 docs at sf0.01)
    * is under it and kept whole.
    */
  private val QuotaPerLang = 70

  /** q_sample_quota — exact-count quota sampling: the first `QuotaPerLang`
    * documents of each language in deterministic salted-hash order.
    * Complements [[sampleMix]]: the rate gate is zero-shuffle but only
    * approximates stratum sizes; eval-set construction wants EXACT counts.
    * The rank runs over a slim (doc_id, lang, hash) projection — ~16 bytes
    * a row, the full-width rows never enter the window shuffle — and the
    * picked set is `quota × n_strata` rows, so applying it back to the
    * corpus is a broadcast join. One stratum = one window partition, so
    * this targets bounded-quota strata (eval sets, per-language caps), not
    * corpus-sized ones — for those the rate gate is the tool.
    */
  private def sampleQuota(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val picks = docs(s, d)
      .select($"doc_id", $"lang", hkey("quota").as("hk"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy($"lang").orderBy($"hk", $"doc_id")))
      .filter($"rn" <= QuotaPerLang)
      .select($"doc_id", $"rn")
    docs(s, d)
      .join(broadcast(picks), "doc_id")
      .select($"doc_id", $"lang", $"source", $"n_chars", $"rn")
      .orderBy($"lang", $"rn")
  }

  private val QuotaSql =
    "WITH ranked AS (SELECT doc_id, row_number() OVER (PARTITION BY lang " +
      "ORDER BY hk, doc_id) AS rn FROM " +
      s"(SELECT doc_id, lang, ${hkeySql("quota")} AS hk FROM documents)) " +
      "SELECT d.doc_id, d.lang, d.source, d.n_chars, r.rn " +
      "FROM documents d JOIN ranked r ON d.doc_id = r.doc_id " +
      s"WHERE r.rn <= $QuotaPerLang ORDER BY d.lang, r.rn"

  /** Weight scale: keep-probability = min(1, n_chars / 400) expressed as
    * integer basis points so the threshold compare is pure integer
    * arithmetic (no double rounding to diverge cross-engine): 10000/400
    * = 25 basis points per char.
    */
  private val WeightBps = 10000L
  private val BpsPerChar = 25L

  /** q_sample_weighted — deterministic weighted Bernoulli sampling: keep a
    * document with probability proportional to its length (clipped at 1),
    * the curriculum/importance-sampling knob that up-weights long
    * documents the way q_sample_mix up-weights languages. Keep iff the
    * salted md5 bucket falls under `min(10000, n_chars·25)` basis points
    * — a pure integer function of (doc_id, n_chars), so the selected set
    * is invariant under retries, partitioning, and engine, unlike
    * rand()-thresholded sampling. Entirely map-side: the weight ladder
    * and hash evaluate inside the scan stage, ZERO shuffles at any scale
    * (the orderBy exists only for the oracle compare). The sf0.01 data
    * exercises both branches: 146 docs clip at weight 1.0, the rest keep
    * a fractional weight.
    */
  private def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val threshold = least(lit(WeightBps), $"n_chars" * BpsPerChar)
    docs(s, d)
      .filter(pmod(hkey("wsample"), lit(WeightBps)) < threshold)
      .select(
        $"doc_id",
        $"lang",
        $"n_chars",
        (threshold.cast("bigint") / lit(WeightBps.toDouble)).as("keep_weight"))
      .orderBy($"doc_id")
  }

  private val WeightedSql =
    s"SELECT doc_id, lang, n_chars, " +
      s"CAST(least($WeightBps, n_chars * $BpsPerChar) AS BIGINT) / ${WeightBps.toDouble} AS keep_weight " +
      "FROM documents " +
      s"WHERE ${hkeySql("wsample")} % $WeightBps < least($WeightBps, n_chars * $BpsPerChar) " +
      "ORDER BY doc_id"

  /** q_sample_temperature — temperature-flattened language mixing, the
    * principled generalization of q_sample_mix's hand-tuned ladder:
    * per-language quotas ∝ n^(1/T) with T = 2, i.e. sqrt — the ONE power
    * the no-transcendentals rule admits (IEEE sqrt is correctly rounded
    * and bit-stable cross-engine; pow/exp/log are not). quota_l =
    * floor(B · w_l / W) with w_l = r6(sqrt(n_l)) and W their
    * order-independent decimal(18,6) sum; selection within a language is
    * the salted-hash ladder, so the picked set is invariant under
    * retries, partitioning, and engine. On the skewed testdata this
    * visibly flattens the mixture (en: 44% of the corpus → 31% of the
    * sample). Scale shape: ONE count aggregate (map-side combine) builds
    * the |languages|-sized quota frame, broadcast back onto the same
    * per-language rank window q_sample_quota uses — no extra corpus
    * shuffle at any size.
    */
  private val TempBudget = 150L
  private def sampleTemperature(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = docs(s, d)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("ws", graft.X.r6(sqrt($"n_docs".cast("double"))))
    val tot = w.agg(sum($"ws".cast("decimal(18,6)")).cast("double").as("tw"))
    val quota = w
      .crossJoin(broadcast(tot)) // one-row total attach (PlanHygieneSpec-listed)
      .withColumn("quota", floor(lit(TempBudget) * $"ws" / $"tw").cast("long"))
      .select($"lang", $"n_docs", $"quota")
    docs(s, d)
      .select($"doc_id", $"lang", hkey("temp").as("hk"))
      .withColumn(
        "rn",
        row_number()
          .over(Window.partitionBy($"lang").orderBy($"hk", $"doc_id"))
          .cast("long"))
      .join(broadcast(quota), Seq("lang"))
      .filter($"rn" <= $"quota")
      .select($"doc_id", $"lang", $"rn", $"quota", $"n_docs")
      .orderBy($"lang", $"rn")
  }

  private val TemperatureSql =
    "WITH src AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs " +
      "FROM documents GROUP BY lang), " +
      "w AS (SELECT lang, n_docs, " +
      "floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ws FROM src), " +
      "tot AS (SELECT CAST(sum(CAST(ws AS DECIMAL(18,6))) AS DOUBLE) AS tw FROM w), " +
      "quota AS (SELECT lang, n_docs, " +
      s"CAST(floor($TempBudget * ws / tw) AS BIGINT) AS quota FROM w CROSS JOIN tot), " +
      "ranked AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
      s"ORDER BY ${hkeySql("temp")}, doc_id) AS rn FROM documents) " +
      "SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS rn, q.quota, q.n_docs " +
      "FROM ranked r JOIN quota q ON r.lang = q.lang " +
      "WHERE r.rn <= q.quota ORDER BY r.lang, r.rn"

  /** q_sample_importance — importance-weighted data selection (the
    * log-free exact-arithmetic surrogate of DSIR, Xie et al.
    * arXiv:2302.03169: weight raw data by how target-like it looks under
    * cheap bag-of-words models, keep the high scorers): target = the
    * English sub-corpus, raw = the full corpus, per-token importance
    * ratio p_tgt(t)/p_raw(t) = cf_tgt(t)·L_raw / (cf_raw(t)·L_tgt)
    * (exactly 0 for tokens the target never produced), per-doc mean,
    * keep = iw6 > 1 — "more target-like than the corpus average", a
    * pure threshold so the selection needs no global sort. Docs with no
    * model tokens report n_toks = 0, NULL weight, keep = false.
    *
    * Scale shape: the per-term model (cf_raw ⋈ cf_tgt with the one-row
    * (L_raw, L_tgt) totals attached INSIDE the checkpointed lineage —
    * LmOps.pinned rationale: vocabulary-bounded state, skew-split armed
    * on the corpus join, no BNLJ in the final plan) joins the token
    * frame once; the threshold keep is per-row. Deterministic: integer
    * ratio cleared in decimal(38,0) — overflow-safe at 100 TB counts —
    * one IEEE division, r6, the standard fixed-point mean.
    */
  private def sampleImportance(s: SparkSession, d: String): DataFrame =
    sampleImportanceOf(docs(s, d))

  private[graft] def sampleImportanceOf(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    def d38(c: Column) = c.cast("decimal(38,0)")
    val ftl = LmOps.langTokensOf(docsDf)
    val cfAll = ftl.groupBy($"term").agg(count(lit(1)).as("cf_all"))
    val cfTgt = ftl.filter($"lang" === "en")
      .groupBy($"term").agg(count(lit(1)).as("cf_tgt"))
    val totals = ftl.agg(
      count(lit(1)).as("l_all"),
      count(when($"lang" === "en", 1)).as("l_tgt"))
    val model = cfAll
      .join(cfTgt, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(
        $"term",
        X.r6(
          (d38(coalesce($"cf_tgt", lit(0L))) * d38($"l_all")).cast("double") /
            (d38($"cf_all") * d38($"l_tgt")).cast("double")).as("r"))
      .localCheckpoint(true)
    val perDoc = ftl
      .select($"doc_id", $"term")
      .join(model, Seq("term"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)")).as("sr"),
        count(lit(1)).as("n_toks"))
    docsDf
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_toks", lit(0L)).as("n_toks"),
        when(
          $"n_toks" > 0,
          X.r6($"sr".cast("double") / $"n_toks".cast("double"))).as("iw6"))
      .withColumn("keep", coalesce($"iw6" > 1.0d, lit(false)))
      .orderBy($"doc_id")
  }

  /** q_sample_importance from persisted (term, doc_id, tf) postings — the
    * tf-grouping identity ([[LmOps.lmScoreFromPostings]] rationale):
    * occurrences of a term in a doc share one ratio, so Σ_occ r = tf·r
    * and n_toks = Σ tf; the target totals come from the postings joined
    * to the lake's (doc_id, lang) map (the index persists no lake
    * metadata by design). docLang supplies every doc's row, including
    * the zero-token docs an index never carries.
    */
  private[graft] def sampleImportanceFromPostings(
      postings: DataFrame,
      docLang: DataFrame): DataFrame = {
    val s = postings.sparkSession
    import s.implicits._
    def d38(c: Column) = c.cast("decimal(38,0)")
    val enIds = docLang.filter($"lang" === "en").select($"doc_id")
    val enPost = postings.join(enIds, Seq("doc_id"), "left_semi")
    val totals = postings.agg(sum($"tf").as("l_all"))
      .crossJoin(broadcast(
        enPost.agg(coalesce(sum($"tf"), lit(0L)).as("l_tgt"))))
    val cfAll = postings.groupBy($"term").agg(sum($"tf").as("cf_all"))
    val cfTgt = enPost.groupBy($"term").agg(sum($"tf").as("cf_tgt"))
    val model = cfAll
      .join(cfTgt, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(
        $"term",
        X.r6(
          (d38(coalesce($"cf_tgt", lit(0L))) * d38($"l_all")).cast("double") /
            (d38($"cf_all") * d38($"l_tgt")).cast("double")).as("r"))
      .localCheckpoint(true)
    val perDoc = postings
      .join(model, Seq("term"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)") * $"tf").as("sr"),
        sum($"tf").as("n_toks"))
    docLang
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_toks", lit(0L)).as("n_toks"),
        when(
          $"n_toks" > 0,
          X.r6($"sr".cast("double") / $"n_toks".cast("double"))).as("iw6"))
      .withColumn("keep", coalesce($"iw6" > 1.0d, lit(false)))
      .orderBy($"doc_id")
  }

  private val ImportanceSql =
    "WITH tokl AS (SELECT doc_id, lang, " +
      "unnest(string_split(lower(text), ' ')) AS term FROM documents), " +
      "ft AS (SELECT doc_id, lang, term FROM tokl " +
      "WHERE regexp_full_match(term, '[a-z0-9]{3,}')), " +
      "ca AS (SELECT term, CAST(count(*) AS BIGINT) AS cf_all FROM ft GROUP BY 1), " +
      "ct AS (SELECT term, CAST(count(*) AS BIGINT) AS cf_tgt " +
      "FROM ft WHERE lang = 'en' GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS l_all, " +
      "CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS l_tgt FROM ft), " +
      "sc AS (SELECT doc_id, floor(" +
      "CAST(coalesce(c2.cf_tgt, 0) * t.l_all AS DOUBLE) / " +
      "CAST(c1.cf_all * t.l_tgt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r " +
      "FROM ft JOIN ca c1 USING (term) LEFT JOIN ct c2 USING (term), tot t), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_toks FROM sc GROUP BY 1), " +
      "res AS (SELECT d.doc_id, coalesce(a.n_toks, 0) AS n_toks, " +
      "CASE WHEN a.n_toks > 0 THEN " +
      "floor(a.sr / a.n_toks * 1e6 + 0.5) / 1e6 END AS iw6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id)) " +
      "SELECT doc_id, n_toks, iw6, coalesce(iw6 > 1.0, false) AS keep " +
      "FROM res ORDER BY doc_id"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_sample_mix", sampleMix, Some(MixSql)),
    QueryDef("q_sample_temperature", sampleTemperature, Some(TemperatureSql)),
    QueryDef("q_sample_weighted", sampleWeighted, Some(WeightedSql)),
    QueryDef("q_pack_sequences", packSequences, Some(PackSql)),
    QueryDef("q_source_filter", sourceFilter, Some(SourceFilterSql)),
    QueryDef("q_sample_quota", sampleQuota, Some(QuotaSql)),
    QueryDef("q_sample_importance", sampleImportance, Some(ImportanceSql)))

}
