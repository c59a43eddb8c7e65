package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, T, X}

/** Unigram language-model quality scoring — the CCNet-style corpus
  * filter (Wenzek et al., arXiv:1911.00359): train a cheap LM on the
  * corpus, score every document by how "expected" its tokens are, and
  * bucket documents head/middle/tail per language so a curation
  * pipeline can keep the well-formed fraction. The reference has no
  * notion of this (its 456-line ETL scores nothing); the family is
  * charter surface — what a 100 TB training-data pipeline needs next to
  * dedup (q_dedup_*) and heuristic quality (q_text_quality).
  *
  * House determinism rule (SURVEY §7.5): no cross-libm transcendentals
  * in oracle-checked queries, so the score is NOT log-perplexity — it is
  * the mean INVERSE RELATIVE FREQUENCY of the document's tokens
  * (Σ N/cf(t) / n_tokens), a rational surrogate computed with one IEEE
  * division per token, portable half-up rounding (X.r6), and an
  * order-independent decimal(38,6) sum — the exact ladder q_index_bm25
  * uses for its rational idf. Rare-token-heavy (ill-modeled) documents
  * score HIGH, common-language documents LOW, the same direction as
  * perplexity; it is a different statistic (arithmetic, not geometric,
  * mean of 1/p), documented as such — the FILTERING role (rank + bucket
  * per language) is what CCNet prescribes, and ranks only need a
  * monotone per-token score.
  *
  * Tokenizer: exactly [[TextOps.bm25TokensOf]] (lower, space-split,
  * `[a-z0-9]{3,}`), so the model is derivable from the maintained BM25
  * postings state (cf = Σ tf per term, N = stats.l) — the continuous
  * serve ([[StreamOps.serveLmUnigramContinuous]]) reads the SAME index
  * the lexical family already maintains: one state, one more serve, no
  * new stream.
  *
  * Scale shape at 100 TB: the model is ONE hash aggregate over tokens
  * (map-side partial combine); scoring joins tokens to the vocab-sized
  * cf table (bounded by language, ~1e7-1e8 rows — AQE auto-broadcasts
  * it at small scale, shuffle-hash on `term` beyond) plus one broadcast
  * one-row total; the per-doc reduce is the corpus's one doc-keyed
  * aggregate. Sum headroom: rarity ≤ N (hapax), so a doc's sum is
  * ≤ n_tokens·N ~ 1e18 at N=1e13 — inside decimal(38,6)'s 32 integer
  * digits where a double sum would both overflow precision and be
  * order-dependent.
  */
object LmOps {

  private def docs(s: SparkSession, d: String) = T(s, d, "documents")

  /** Model-state materialization barrier for every token ⋈ counts join.
    *
    * Token frequencies are Zipfian ("the" ≈ 5 % of English tokens), so
    * the join that attaches per-term counts to the token stream is the
    * family's one skew-prone shuffle. The intended mitigation is AQE's
    * OptimizeSkewedJoin — but that rule only fires when BOTH join
    * children are plain ENSURE_REQUIREMENTS shuffle stages, and a counts
    * AGGREGATE feeding the join directly is already hash-distributed on
    * the key: no splittable stage on that side, rule bails, and the hot
    * term's entire partition rides in one task (TermSkewSpec reproduces
    * this: plain agg → no split; explicit repartition → still no split,
    * REPARTITION_BY_COL origin is excluded from the rule). Checkpointing
    * the counts — bounded model state, O(vocabulary) — turns them into a
    * freshly scanned relation, so EnsureRequirements plants clean
    * exchanges on both sides: small counts still auto-broadcast from
    * runtime size stats (the test-scale plan is unchanged), corpus-scale
    * counts sort-merge with the skew split ARMED. Also pays the counts
    * branch's token scan once instead of per consumer.
    */
  private def pinned(counts: DataFrame): DataFrame =
    counts.localCheckpoint(true)

  /** (term, cf, n_total) — the unigram counts every query here shares;
    * also exactly reconstructible from the BM25 postings generations.
    */
  private[graft] def unigramCountsOf(ft: DataFrame): DataFrame = {
    import ft.sparkSession.implicits._
    // n_total = Σ cf over the counts frame (r18 opt): the old
    // `ft.agg(count(*))` branch re-ran the whole tokenize lineage a
    // second time just to count it; the term-count frame already carries
    // the total, so pin it once and aggregate the |terms|-row RDD.
    val cf = ft
      .groupBy($"term")
      .agg(count(lit(1)).as("cf"))
      .localCheckpoint(true)
    cf.crossJoin(broadcast(cf.agg(sum($"cf").as("n_total"))))
  }

  /** The model projection over any (term, cf, n_total) counts frame —
    * the seam the continuous serve shares with the registry query, so
    * counts derived from the maintained BM25 postings (cf = Σ tf,
    * n_total = Σ stats.l) produce the byte-identical model.
    */
  private[graft] def lmUnigramFromCounts(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    counts
      .select(
        $"term",
        $"cf",
        $"n_total",
        X.r6($"cf".cast("double") / $"n_total".cast("double")).as("p6"))
      .orderBy($"cf".desc, $"term")
  }

  /** q_lm_unigram — the model table: every vocabulary term with its
    * corpus frequency and (rounded) relative frequency. p6 is the one
    * IEEE division cf/N, half-up at 6dp — the portable fixed-point form
    * of the maximum-likelihood unigram probability.
    */
  private[graft] def lmUnigramOf(docsDf: DataFrame): DataFrame =
    lmUnigramFromCounts(unigramCountsOf(TextOps.bm25TokensOf(docsDf)))

  /** Per-doc scores STRAIGHT FROM THE POSTINGS STATE: the registry sums
    * r6(N/cf) once per token; the postings carry (term, doc_id, tf), and
    * tf occurrences of a term all round to the same fixed-point rarity,
    * so Σ_tokens r6(N/cf) = Σ_terms tf·r6(N/cf) EXACTLY in decimal
    * arithmetic (tf ≤ 1e12 as decimal(12,0) × rarity as decimal(25,6) —
    * 19 integer digits, so a hapax rarity of N itself fits far past the
    * N ~ 1e13 100 TB token count, where an 18,6 cast's 12 integer
    * digits would overflow to NULL under non-ANSI arithmetic and
    * silently drop the term — → decimal(38,6), no precision loss).
    * n_tokens = Σ tf. The serve therefore never touches the corpus
    * text — the model AND the scores ride the index the lexical family
    * already maintains.
    */
  private[graft] def lmScoreAggFromPostings(
      postings: DataFrame,
      nTotal: DataFrame): DataFrame = {
    import postings.sparkSession.implicits._
    val counts = postings
      .groupBy($"term")
      .agg(sum($"tf").as("cf"))
      .crossJoin(broadcast(nTotal.select($"n_total")))
    postings
      .join(pinned(counts), Seq("term"))
      .select(
        $"doc_id",
        ($"tf".cast("decimal(12,0)") *
          X.r6($"n_total".cast("double") / $"cf".cast("double"))
            .cast("decimal(25,6)")).as("rterm"),
        $"tf")
      .groupBy($"doc_id")
      .agg(sum($"rterm").as("sr"), sum($"tf").as("n_tokens"))
  }

  private[graft] def lmScoreFromPostings(
      postings: DataFrame,
      nTotal: DataFrame): DataFrame = {
    import postings.sparkSession.implicits._
    lmScoreAggFromPostings(postings, nTotal)
      .select(
        $"doc_id",
        $"n_tokens",
        X.r6($"sr".cast("double") / $"n_tokens".cast("double")).as("rarity6"))
      .orderBy($"doc_id")
  }

  /** Bench split for q_lm_score: build commits the canonical /bm25
    * lexical index — PHYSICALLY the same buildOnce-guarded artifact the
    * bm25 splits build, not a byte-identical copy under a private path,
    * so when the lexical splits have already committed it this build is
    * a marker check and the LM genuinely rides the index for free (the
    * production story). Serve scores the whole corpus from its postings
    * + the lake's doc-id universe (totality: unscorable docs emit their
    * n_tokens = 0 row exactly like the composed query).
    */
  private[graft] def lmScoreSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val build = () => { TextOps.writeBm25Index(s, d); () }
    val serve = () => {
      val path = SimilarityOps.serveRoot(s, d) + "/bm25"
      val postings = T.parquet(s, s"$path/postings")
      val nTotal = T.parquet(s, s"$path/stats")
        .agg(sum(col("l")).as("n_total"))
      lmScoreOf(docs(s, d), lmScoreAggFromPostings(postings, nTotal))
    }
    (build, serve)
  }

  /** Canonical persisted bigram pair counts (the continuous
    * BigramFamily's payload, batch-built) — build-once under the shared
    * index catalog, the model state the smoothed-LM bench splits serve
    * from.
    */
  private[graft] def writeBigramCounts(s: SparkSession, d: String): String = {
    val path = SimilarityOps.serveRoot(s, d) + "/bigram"
    graft.index.GenLog.buildOnce(s, path) {
      bigramCountsOf(docs(s, d))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/counts")
    }
    path
  }

  // ---- bench splits for the model-state LM queries (round-17 #6) -----
  //
  // The composed q_lm_kn / q_lm_interp / q_lm_bucket / q_lm_score_lang
  // charge MODEL construction (pair counts, unigram postings) to every
  // bench iteration, burying how much of their wall is one-time state
  // build vs serve — the figure the continuous forms
  // (StreamOps.serveLmKnContinuous etc., StreamingLmSpec) already
  // amortize. Each split's build commits the canonical state the
  // lexical/bigram families already maintain (buildOnce: when a sibling
  // split built it first, the build leg is a marker check — the
  // production story); serve derives the model from that state and
  // scores through the registry's own seams, so serve ≡ composed
  // (BenchSplitSpec) by the tf-grouping / additive-count identities
  // StreamingLmSpec pins.

  private def bm25Frames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val path = SimilarityOps.serveRoot(s, d) + "/bm25"
    (
      T.parquet(s, s"$path/postings"),
      T.parquet(s, s"$path/stats").agg(sum(col("l")).as("n_total")))
  }

  private[graft] def lmKnSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val build = () => { writeBigramCounts(s, d); () }
    val serve = () =>
      lmKnFromCounts(
        T.parquet(s, SimilarityOps.serveRoot(s, d) + "/bigram/counts"),
        docs(s, d))
    (build, serve)
  }

  private[graft] def lmInterpSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val build = () => {
      writeBigramCounts(s, d)
      TextOps.writeBm25Index(s, d)
      ()
    }
    val serve = () => {
      val (postings, nTotal) = bm25Frames(s, d)
      lmInterpFromCounts(
        T.parquet(s, SimilarityOps.serveRoot(s, d) + "/bigram/counts"),
        postings.groupBy($"term".as("w2")).agg(sum($"tf").as("cf1")),
        nTotal.select($"n_total".as("lt")),
        docs(s, d))
    }
    (build, serve)
  }

  private[graft] def lmBucketSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val build = () => { TextOps.writeBm25Index(s, d); () }
    val serve = () => {
      val (postings, nTotal) = bm25Frames(s, d)
      // same one-join scorable frame as the composed query (scoredLangOf)
      langTerciles(
        docs(s, d)
          .select($"doc_id", $"lang")
          .join(lmScoreAggFromPostings(postings, nTotal), Seq("doc_id"))
          .select(
            $"doc_id",
            $"lang",
            X.r6($"sr".cast("double") / $"n_tokens".cast("double"))
              .as("rarity6")))
        .orderBy($"doc_id")
    }
    (build, serve)
  }

  private[graft] def lmScoreLangSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val build = () => { TextOps.writeBm25Index(s, d); () }
    val serve = () => {
      val (postings, _) = bm25Frames(s, d)
      val dl = docs(s, d).select($"doc_id", $"lang")
      // totality: the composed query emits n_tokens = 0 rows (null
      // rarity6) for docs with no model token — postings carry no row
      // for them, so re-add via the doc universe exactly like lmScoreOf
      dl.join(lmScoreLangAggFromPostings(postings, dl), Seq("doc_id"), "left")
        .select(
          $"doc_id",
          $"lang",
          coalesce($"n_tokens", lit(0L)).as("n_tokens"),
          when(
            $"n_tokens" > 0,
            X.r6($"sr".cast("double") / $"n_tokens".cast("double")))
            .as("rarity6"))
        .orderBy($"doc_id")
    }
    (build, serve)
  }

  private def lmUnigram(s: SparkSession, d: String): DataFrame =
    lmUnigramOf(docs(s, d))

  // the oracle-side mirror of bm25TokensOf, shared by all three oracles
  private val FtCte =
    "tok AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term " +
      "FROM documents), " +
      "ft AS (SELECT doc_id, term FROM tok " +
      "WHERE regexp_full_match(term,'[a-z0-9]{3,}')), " +
      "cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM ft GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ft)"

  private val LmUnigramSql =
    s"WITH $FtCte " +
      "SELECT term, cf, n_total, " +
      "floor(CAST(cf AS DOUBLE) / CAST(n_total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p6 " +
      "FROM cf CROSS JOIN tot ORDER BY cf DESC, term"

  /** Per-doc score frame (doc_id, n_tokens, sr): the decimal-exact sum
    * of per-token rounded rarities — the seam q_lm_score and q_lm_bucket
    * share, parameterized by the token and count frames so the
    * continuous serve can feed index-derived counts.
    *
    * CALLER CONTRACT (r19 opt): `counts` must already be
    * materialization-derived — every caller passes either
    * [[unigramCountsOf]]'s checkpoint-backed frame or a parquet read —
    * so the [[pinned]] wrapper this seam used to apply re-materialized
    * an already-flat |vocab|-row frame: one pure-overhead job per query
    * (q_lm_score / q_lm_bucket / q_lm_apply / q_lm_score_incr).
    * The skew-split stays armed without it: the counts side of the term
    * join is a fresh scan (ExistingRDD / parquet) + broadcast total, so
    * EnsureRequirements still plants a plain exchange there
    * (TermSkewSpec re-proves the split fires and scores are invariant).
    */
  private[graft] def rarityAggOf(ft: DataFrame, counts: DataFrame): DataFrame = {
    import ft.sparkSession.implicits._
    ft.join(counts, Seq("term"))
      .select(
        $"doc_id",
        X.r6($"n_total".cast("double") / $"cf".cast("double")).as("r"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)")).as("sr"),
        count(lit(1)).as("n_tokens"))
  }

  /** q_lm_score — every document's mean token rarity. Total over the
    * corpus: a document with zero model tokens (nothing survives the
    * tokenizer) emits n_tokens = 0 with a NULL score rather than
    * disappearing — the curation caller decides what an unscorable doc
    * means.
    */
  private[graft] def lmScoreOf(docsDf: DataFrame, agg: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    docsDf
      .select($"doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        when(
          $"n_tokens" > 0,
          X.r6($"sr".cast("double") / $"n_tokens".cast("double")))
          .as("rarity6"))
      .orderBy($"doc_id")
  }

  private def lmScore(s: SparkSession, d: String): DataFrame = {
    val ft = TextOps.bm25TokensOf(docs(s, d))
    lmScoreOf(docs(s, d), rarityAggOf(ft, unigramCountsOf(ft)))
  }

  private val ScoreCtes =
    s"WITH $FtCte, " +
      "sc AS (SELECT doc_id, floor(CAST(n_total AS DOUBLE) / CAST(cf AS DOUBLE) " +
      "* 1e6 + 0.5) / 1e6 AS r FROM ft JOIN cf USING (term) CROSS JOIN tot), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_tokens FROM sc GROUP BY 1), " +
      "score AS (SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, " +
      "CASE WHEN a.n_tokens > 0 THEN " +
      "floor(a.sr / a.n_tokens * 1e6 + 0.5) / 1e6 END AS rarity6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id))"

  private val LmScoreSql =
    ScoreCtes + " SELECT doc_id, n_tokens, rarity6 FROM score ORDER BY doc_id"

  /** q_lm_score_incr — the maintained per-doc LM score family
    * (verdict-r17 #3): q_lm_score's serve is inherently O(corpus)
    * because every doc rescans under the CURRENT model; the incremental
    * form pins the model at the base EPOCH (the IVF-codebook rule — a
    * model refresh is an explicit new epoch, not a silent drift) so
    * per-doc scores become immutable state: the base generation persists
    * (doc_id, n_tokens, rarity6) once, and a new batch scores ONLY its
    * own docs against the persisted (term, cf, n_total) model —
    * O(batch) tokenization + one broadcast model join — then
    * merge-on-read unions the slim score generations. The newest ~10%
    * of docs by id are today's ingest (the dedupIncr shape). The oracle
    * scores the FULL corpus under the base-epoch model in SQL, so the
    * hash gate re-proves delta-apply ≡ rebuild-under-pinned-model at
    * both scales every round.
    */
  private def lmScoreIncr(s: SparkSession, d: String): DataFrame = {
    val (build, serve) = lmScoreIncrSplit(s, d)
    build()
    serve()
  }

  private[graft] def lmScoreIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val all = docs(s, d).select($"doc_id", $"lang", $"text")
    val thrDf = all.agg(expr("(max(doc_id) * 9) div 10").as("thr"))
    val withThr = all.crossJoin(broadcast(thrDf))
    val base = withThr.filter($"doc_id" <= $"thr").select($"doc_id", $"lang", $"text")
    val delta = withThr.filter($"doc_id" > $"thr").select($"doc_id", $"lang", $"text")
    val root = SimilarityOps.serveRoot(s, d) + "/lm_score_incr"
    val build = () => {
      graft.index.GenLog.buildOnce(s, root) {
        val ftBase = TextOps.bm25TokensOf(base)
        val counts = unigramCountsOf(ftBase).localCheckpoint(eager = true)
        counts.write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/model")
        lmScoreOf(base, rarityAggOf(ftBase, counts))
          .write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/scores_v0")
      }
      ()
    }
    val serve = () => {
      val model = T.parquet(s, s"$root/model")
      val deltaScores = lmScoreOf(
        delta, rarityAggOf(TextOps.bm25TokensOf(delta), model))
      T.parquet(s, s"$root/scores_v0")
        .unionByName(deltaScores)
        .orderBy($"doc_id")
    }
    (build, serve)
  }

  /** [[LmScoreSql]] with the model CTEs pinned to the base epoch
    * (doc_id ≤ (9·max) div 10) while scoring the full corpus — the
    * rebuild the incremental family's chain must equal.
    */
  private val LmScoreIncrSql =
    "WITH thr AS (SELECT (max(doc_id) * 9) // 10 AS t FROM documents), " +
      "tok AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term " +
      "FROM documents), " +
      "ft AS (SELECT doc_id, term FROM tok " +
      "WHERE regexp_full_match(term,'[a-z0-9]{3,}')), " +
      "cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM ft " +
      "WHERE doc_id <= (SELECT t FROM thr) GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ft " +
      "WHERE doc_id <= (SELECT t FROM thr)), " +
      "sc AS (SELECT doc_id, floor(CAST(n_total AS DOUBLE) / CAST(cf AS DOUBLE) " +
      "* 1e6 + 0.5) / 1e6 AS r FROM ft JOIN cf USING (term) CROSS JOIN tot), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_tokens FROM sc GROUP BY 1), " +
      "score AS (SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, " +
      "CASE WHEN a.n_tokens > 0 THEN " +
      "floor(a.sr / a.n_tokens * 1e6 + 0.5) / 1e6 END AS rarity6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id)) " +
      "SELECT doc_id, n_tokens, rarity6 FROM score ORDER BY doc_id"

  /** Exact distributed per-language ntile(3) — the scale-safe two-pass
    * rank that replaces a `ntile(3) over Window.partitionBy(lang)`
    * formulation. A per-language window puts an ENTIRE language's rows
    * into one task's sort: `lang` is low-cardinality and Zipf-skewed, so
    * at the 100 TB north star English alone (~1e10 rows) would be a
    * single window partition, and AQE's skew mitigation does not apply
    * to windows. Here partition sizes are set by RANGE partitioning on
    * the full rank key (lang, rarity6, doc_id) — balanced by sampling,
    * independent of language skew:
    *
    *  1. range-partition by the total order; tag rows with their range
    *     partition id (the EXPLICIT partition count pins the shuffle
    *     origin to REPARTITION_BY_NUM, which AQE never coalesces or
    *     re-splits, so `spark_partition_id` is identical across the two
    *     reads of the exchange below);
    *  2. per-(range, lang) row counts — a tiny P×|langs| frame — give
    *     each range slice's broadcast cumulative OFFSET within its
    *     language and each language's total n;
    *  3. local row_number within (range, lang) — every window partition
    *     is bounded by the range slice, never by the language — plus the
    *     offset is the exact global per-language rank (rows of one lang
    *     inside one range slice are a contiguous slice of that lang's
    *     global order, because the global sort key leads with lang);
    *  4. ntile arithmetic on (rank, n): with base = n div 3 and
    *     rem = n mod 3, the first rem buckets hold base+1 rows — the
    *     published NTILE contract in both engines.
    *
    * Output ≡ the window formulation row-for-row (LmSpec pins the
    * equivalence property on generated corpora; the oracle SQL still
    * says `ntile(3) OVER (PARTITION BY lang ...)`).
    */
  private[graft] def langTerciles(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val parts = s.sessionState.conf.numShufflePartitions
    // localCheckpoint FREEZES pid into materialized rows: the counts pass
    // and the local-rank pass below both read the same bytes, so offset /
    // rank alignment is structural — not dependent on Catalyst reusing
    // the one range exchange across the two consumers (exchange reuse is
    // a config-gated optimization, not a semantic guarantee).
    val ranged = scored
      .repartitionByRange(parts, $"lang", $"rarity6", $"doc_id")
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint()
    val counts = ranged.groupBy($"pid", $"lang").agg(count(lit(1)).as("cnt"))
    val wOff = Window
      .partitionBy($"lang")
      .orderBy($"pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum($"cnt").over(wOff), lit(0L)))
      .select($"pid", $"lang", $"off")
    val nTot = counts.groupBy($"lang").agg(sum($"cnt").as("n"))
    val wLocal =
      Window.partitionBy($"pid", $"lang").orderBy($"rarity6", $"doc_id")
    ranged
      .withColumn("lr", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("pid", "lang"))
      .join(broadcast(nTot), Seq("lang"))
      .withColumn("r", $"lr" + $"off")
      .withColumn("base", expr("n div 3"))
      .withColumn("rem", $"n" % 3)
      .withColumn("cut", $"rem" * ($"base" + 1L))
      .select(
        $"doc_id",
        $"lang",
        $"rarity6",
        when($"r" <= $"cut", expr("(r - 1) div (base + 1)") + 1L)
          .otherwise($"rem" + expr("(r - cut - 1) div greatest(base, 1)") + 1L)
          .cast("long")
          .as("bucket"))
  }

  /** q_lm_bucket — the CCNet head/middle/tail assignment: per LANGUAGE,
    * scored documents ranked by rarity (commonest language first) and
    * cut into terciles — bucket 1 is the "head" CCNet keeps
    * unconditionally, 3 the "tail" it drops or down-samples. The rank
    * order is total (rarity6, then doc_id), so the assignment is
    * deterministic under ties; unscorable docs (n_tokens = 0) carry no
    * rank and are excluded — q_lm_score still reports them. The tercile
    * assignment is [[langTerciles]]'s two-pass distributed rank — range
    * partitioning bounds every sort by the range slice, not the
    * language, so the plan survives Zipf-skewed language sizes at
    * 100 TB where a per-language window would put English in one task.
    */
  /** (doc_id, lang, rarity6) for every SCORABLE doc — the q_lm_bucket
    * input, computed as ONE inner join of the per-doc score aggregate
    * against the lake's (doc_id, lang) map. Row-identical to the old
    * lmScoreOf(universe left-join) → filter(n_tokens > 0) → second docs
    * join for lang (r19 opt): an agg row always has n_tokens ≥ 1, and
    * the filter discarded exactly the left-join's null rows, so the
    * composed form scanned the docs table twice to reach the same inner
    * row set.
    */
  private def scoredLangOf(docsDf: DataFrame, agg: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    docsDf
      .select($"doc_id", $"lang")
      .join(agg, Seq("doc_id"))
      .select(
        $"doc_id",
        $"lang",
        X.r6($"sr".cast("double") / $"n_tokens".cast("double")).as("rarity6"))
  }

  private def lmBucket(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ft = TextOps.bm25TokensOf(docs(s, d))
    langTerciles(scoredLangOf(docs(s, d), rarityAggOf(ft, unigramCountsOf(ft))))
      .orderBy($"doc_id")
  }

  private val LmBucketSql =
    ScoreCtes +
      " SELECT s.doc_id, d.lang, s.rarity6, " +
      "CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY s.rarity6, s.doc_id) " +
      "AS BIGINT) AS bucket " +
      "FROM score s JOIN documents d USING (doc_id) WHERE s.n_tokens > 0 " +
      "ORDER BY s.doc_id"

  // ---- per-language models --------------------------------------------

  /** (lang, term, cf, n_total) — per-language unigram counts from any
    * (doc_id, lang, term) token frame. The language totals are a
    * |langs|-row broadcast; the counts aggregate is the same one hash
    * aggregate as the corpus-global model, just keyed one column wider.
    */
  private[graft] def unigramCountsLangOf(ftl: DataFrame): DataFrame = {
    import ftl.sparkSession.implicits._
    // per-language totals from the counts frame itself — same
    // second-tokenize removal as [[unigramCountsOf]] (r18 opt)
    val cf = ftl
      .groupBy($"lang", $"term")
      .agg(count(lit(1)).as("cf"))
      .localCheckpoint(true)
    cf.join(
      broadcast(cf.groupBy($"lang").agg(sum($"cf").as("n_total"))),
      Seq("lang"))
  }

  /** The (doc_id, lang, term) token frame every per-language query
    * shares: the BM25 tokenizer's stream with the document's language
    * attached map-side (one slim join column, no extra shuffle — lang
    * rides the same docs scan the tokens come from).
    */
  private[graft] def langTokensOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    docsDf
      .select(
        $"doc_id",
        $"lang",
        explode(graft.expr.Bm25Tokens($"text")).as("term"))
  }

  /** q_lm_unigram_lang — the PER-LANGUAGE model table: CCNet (Wenzek et
    * al., arXiv:1911.00359) trains one LM per language, not one over the
    * mixed corpus — under a corpus-global model every non-English
    * document scores against majority-language frequencies. This is the
    * production default; q_lm_unigram remains the single-language /
    * whole-corpus statistic. Keyed (lang, term): p6 = cf / n_total(lang)
    * — each language's distribution is self-contained, so adding a
    * language never moves another language's probabilities.
    */
  private def lmUnigramLang(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    unigramCountsLangOf(langTokensOf(docs(s, d)))
      .select(
        $"lang",
        $"term",
        $"cf",
        $"n_total",
        X.r6($"cf".cast("double") / $"n_total".cast("double")).as("p6"))
      .orderBy($"cf".desc, $"lang", $"term")
  }

  // the oracle-side mirror of langTokensOf + per-lang counts
  private val FtLangCte =
    "tokl AS (SELECT doc_id, lang, unnest(string_split(lower(text),' ')) AS term " +
      "FROM documents), " +
      "ftl AS (SELECT doc_id, lang, term FROM tokl " +
      "WHERE regexp_full_match(term,'[a-z0-9]{3,}')), " +
      "cfl AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cf " +
      "FROM ftl GROUP BY 1, 2), " +
      "totl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total " +
      "FROM ftl GROUP BY 1)"

  private val LmUnigramLangSql =
    s"WITH $FtLangCte " +
      "SELECT c.lang, c.term, c.cf, t.n_total, " +
      "floor(CAST(c.cf AS DOUBLE) / CAST(t.n_total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p6 " +
      "FROM cfl c JOIN totl t USING (lang) ORDER BY c.cf DESC, c.lang, c.term"

  /** q_lm_score_lang — per-document score under the document's OWN
    * language's model: rarity r6(n_total(lang)/cf(lang, term)) per
    * token, same decimal(38,6) ladder as q_lm_score. The per-language
    * fidelity pin (LmSpec): a document's score depends only on its own
    * language's counts — scoring a French doc is invariant under any
    * change to the English sub-corpus, which is false for q_lm_score.
    * Scale shape unchanged: one counts aggregate, one (lang, term)
    * equi-join, one doc-keyed reduce; the join key is WIDER than
    * q_lm_score's (term alone), which only sharpens skew — the hottest
    * term of one language no longer collides with its homographs.
    */
  private def lmScoreLang(s: SparkSession, d: String): DataFrame =
    lmScoreLangOf(docs(s, d))

  /** [[lmScoreLang]] over an arbitrary doc frame — the seam the
    * continuous-serve spec compares against on prefix corpora.
    */
  private[graft] def lmScoreLangOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    // no re-pin (r19 opt, the rarityAggOf rule): unigramCountsLangOf is
    // already checkpoint-backed — cf scans an ExistingRDD and the lang
    // totals arrive broadcast — so pinning it again only re-materialized
    // a flat |lang × vocab|-row frame.
    val ftl = langTokensOf(docsDf)
    val agg = ftl
      .join(unigramCountsLangOf(ftl), Seq("lang", "term"))
      .select(
        $"doc_id",
        X.r6($"n_total".cast("double") / $"cf".cast("double")).as("r"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)")).as("sr"),
        count(lit(1)).as("n_tokens"))
    docsDf
      .select($"doc_id", $"lang")
      .join(agg, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"lang",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        when(
          $"n_tokens" > 0,
          X.r6($"sr".cast("double") / $"n_tokens".cast("double")))
          .as("rarity6"))
      .orderBy($"doc_id")
  }

  private val LmScoreLangSql =
    s"WITH $FtLangCte, " +
      "sc AS (SELECT doc_id, floor(CAST(t.n_total AS DOUBLE) / CAST(c.cf AS DOUBLE) " +
      "* 1e6 + 0.5) / 1e6 AS r FROM ftl f JOIN cfl c USING (lang, term) " +
      "JOIN totl t USING (lang)), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_tokens FROM sc GROUP BY 1) " +
      "SELECT d.doc_id, d.lang, coalesce(a.n_tokens, 0) AS n_tokens, " +
      "CASE WHEN a.n_tokens > 0 THEN " +
      "floor(a.sr / a.n_tokens * 1e6 + 0.5) / 1e6 END AS rarity6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"

  // ---- bigram model ---------------------------------------------------

  /** Ordered model-token bigrams per document: adjacency AFTER the
    * tokenizer filter (the model sees the same token stream the unigram
    * side counts — a dropped punctuation token does not break a pair),
    * one row per consecutive (w1, w2). Within-row higher-order functions
    * (filter → transform over the intact array), then one explode — no
    * token-level shuffle before the count.
    */
  private[graft] def bigramsOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    docsDf
      .select(
        $"doc_id",
        expr("filter(split(lower(text), ' '), t -> t rlike '^[a-z0-9]{3,}$')")
          .as("tk"))
      .filter(size($"tk") >= 2)
      .select(
        $"doc_id",
        explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"))
          .as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
  }

  /** Additive bigram statistics over any doc frame — (w1, w2, cf2):
    * bigrams are within-document, so counts are additive over disjoint
    * doc sets and the frame is a GenLog generation payload (the
    * BoilerFamily pattern); the left-context totals cfl(w1) = Σ_w2 cf2
    * are DERIVED at serve time, never stored.
    */
  private[graft] def bigramCountsOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    bigramsOf(docsDf).groupBy($"w1", $"w2").agg(count(lit(1)).as("cf2"))
  }

  /** [[bigramCountsOf]] keyed one column wider by the SPLIT of the pair's
    * document — the continuous BigramFamily's generation payload: summing
    * cf2 over split recovers the corpus counts exactly (splits partition
    * the doc set), while filtering split = 'train' recovers the
    * q_lm_bigram_apply model's counts — ONE maintained state serves the
    * corpus model, the per-split models, and the train-only apply. The
    * split is [[splitCol]]'s pure hash of doc_id, computed at write time
    * from the batch alone (no lake read, no carried column trusted).
    */
  private[graft] def bigramCountsSplitOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    bigramsOf(docsDf)
      .withColumn("split", splitCol($"doc_id"))
      .groupBy($"split", $"w1", $"w2")
      .agg(count(lit(1)).as("cf2"))
  }

  /** The bigram model projection over any (w1, w2, cf2) counts frame —
    * the seam the continuous serve shares with the registry query. MLE
    * conditional probability p(w2|w1) = cf2 / cfl in the same
    * fixed-point ladder as the unigram p6.
    */
  private[graft] def lmBigramFromCounts(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val agg = counts.groupBy($"w1", $"w2").agg(sum($"cf2").as("cf2"))
    val cfl = agg.groupBy($"w1").agg(sum($"cf2").as("cfl"))
    agg
      .join(cfl, Seq("w1"))
      .select(
        $"w1",
        $"w2",
        $"cf2",
        $"cfl",
        X.r6($"cf2".cast("double") / $"cfl".cast("double")).as("p6"))
      .orderBy($"cf2".desc, $"w1", $"w2")
  }

  /** q_lm_bigram — the conditional model table: every observed token
    * pair with its pair count, left-context total, and fixed-point MLE
    * conditional probability. The bigram step past q_lm_unigram on the
    * CCNet ladder: a Kneser-Ney LM is the published filter's engine
    * (Wenzek et al. arXiv:1911.00359 use KenLM); the MLE table is its
    * exact-arithmetic core — smoothing choices are caller policy, the
    * corpus statistics are what the engine must get right at scale.
    * Scale shape: one hash aggregate over pair rows (map-side combine),
    * one aggregate + self-join on w1 for the context totals — bigram
    * types are bounded by language like the vocabulary, just wider.
    */
  private def lmBigram(s: SparkSession, d: String): DataFrame =
    lmBigramFromCounts(bigramCountsOf(docs(s, d)))

  // oracle-side mirror: filtered ordered token array, positional
  // double-unnest zip into (w1, w2) pairs
  private val BigramCtes =
    "toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), " +
      "t -> regexp_full_match(t, '[a-z0-9]{3,}')) AS tk FROM documents), " +
      "bg AS (SELECT doc_id, " +
      "unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1, " +
      "unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i + 1])) AS w2 " +
      "FROM toks WHERE len(tk) >= 2), " +
      "cf2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cf2 FROM bg GROUP BY 1, 2), " +
      "cfl AS (SELECT w1, CAST(count(*) AS BIGINT) AS cfl FROM bg GROUP BY 1)"

  private val LmBigramSql =
    s"WITH $BigramCtes " +
      "SELECT c.w1, c.w2, c.cf2, l.cfl, " +
      "floor(CAST(c.cf2 AS DOUBLE) / CAST(l.cfl AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p6 " +
      "FROM cf2 c JOIN cfl l USING (w1) ORDER BY c.cf2 DESC, c.w1, c.w2"

  /** q_lm_bigram_score — per-document bigram surprise: the mean inverse
    * conditional frequency of the doc's pairs (Σ cfl/cf2 over bigrams,
    * / n_bigrams) — the second-order complement of q_lm_score: a doc of
    * individually common tokens in an UNSEEN-RARE order scores high
    * here and low there (word-salad detection, the failure mode unigram
    * filters famously miss). Same ladder: per-pair r6, decimal(38,6)
    * sum, one IEEE division; total over the corpus (docs with < 2 model
    * tokens emit n_bigrams = 0, NULL score).
    */
  private def lmBigramScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // pin the PAIR COUNTS and derive cfl from the checkpoint (r19 opt,
    // the lmKnFromCounts shape): the old form pinned agg ⋈ cfl, whose
    // materialization job ran the corpus pair-aggregate lineage on BOTH
    // join sides; here the corpus aggregates once and cfl is a
    // |pair-types|-row rollup of the flat checkpoint. The model join side
    // stays materialization-derived, so the skew split stays armed
    // (pinned/TermSkewSpec rationale).
    val bg = bigramsOf(docs(s, d))
    val cf2 = pinned(bigramCountsOf(docs(s, d)))
    val cfl = cf2.groupBy($"w1").agg(sum($"cf2").as("cfl"))
    val perDoc = bg
      .join(cf2.join(cfl, Seq("w1")), Seq("w1", "w2"))
      .select(
        $"doc_id",
        X.r6($"cfl".cast("double") / $"cf2".cast("double")).as("r"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)")).as("sr"),
        count(lit(1)).as("n_bigrams"))
    docs(s, d)
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        when(
          $"n_bigrams" > 0,
          X.r6($"sr".cast("double") / $"n_bigrams".cast("double")))
          .as("surprise6"))
      .orderBy($"doc_id")
  }

  private val LmBigramScoreSql =
    s"WITH $BigramCtes, " +
      "sc AS (SELECT doc_id, floor(CAST(l.cfl AS DOUBLE) / CAST(c.cf2 AS DOUBLE) " +
      "* 1e6 + 0.5) / 1e6 AS r FROM bg JOIN cf2 c USING (w1, w2) JOIN cfl l USING (w1)), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_bigrams FROM sc GROUP BY 1) " +
      "SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, " +
      "CASE WHEN a.n_bigrams > 0 THEN " +
      "floor(a.sr / a.n_bigrams * 1e6 + 0.5) / 1e6 END AS surprise6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"

  /** q_lm_interp — Jelinek-Mercer interpolated scoring, the first
    * smoothing rung past the MLE tables (Chen & Goodman 1996; CCNet's
    * KenLM interpolates n-gram orders the same way): per document pair,
    * p = λ·p₂(w2|w1) + (1−λ)·p₁(w2) with λ = 7/10, reported as the
    * per-doc mean. Unlike the raw bigram table (zero mass on unseen
    * CONTEXTS), the unigram back-off keeps every observed pair finite —
    * the practical LM-quality signal. Exact arithmetic: clearing
    * denominators gives ONE integer ratio per pair,
    *   p = (7·cf2·L + 3·cf1·cfl) / (10·cfl·L),
    * computed in decimal(38,0) (overflow-safe at 100 TB term counts),
    * one IEEE division, r6, then the standard decimal(18,6) per-doc mean
    * ladder — bit-identical in both engines. Total over the corpus:
    * docs with < 2 model tokens keep a NULL score.
    * Scale shape: the pair stream joins the (w1,w2) counts, the w1
    * context totals, and the w2 unigram counts — all vocabulary-sized
    * equi-joins with map-side combine upstream — plus one broadcast
    * one-row stats frame; no window over the corpus.
    */
  private def lmInterp(s: SparkSession, d: String): DataFrame =
    lmInterpOf(docs(s, d))

  private[graft] def lmInterpOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    // the token total is the sum of the unigram counts — derived from
    // uni instead of a second corpus token scan. NOTE (r19 opt, tried
    // and REVERTED): pinning `uni` behind a checkpoint to dedupe the two
    // uni subtrees (join side + lt) measured WORSE (16 → 17 jobs, full
    // 1.71 → 1.94 s) — the two subtrees are canonically identical, so
    // AQE stage reuse already runs the tokenize+aggregate exchange once
    // at runtime; the pin only added an eager materialization job.
    val uni = TextOps.bm25TokensOf(docsDf)
      .groupBy($"term".as("w2")).agg(count(lit(1)).as("cf1"))
    lmInterpFromCounts(
      bigramCountsOf(docsDf),
      uni,
      uni.agg(sum($"cf1").as("lt")),
      docsDf)
  }

  /** The interpolated model over ANY pair-count + unigram-count frames —
    * the seam the continuous serve shares with the registry query
    * ([[graft.ops.StreamOps.serveLmInterpContinuous]]): pair counts may
    * arrive split-keyed from the maintained bigram state (re-aggregated
    * here), unigram counts and the token total from the maintained
    * postings (cf1 = Σ tf, lt = Σ stats.l — both exact).
    */
  private[graft] def lmInterpFromCounts(
      pairCounts: DataFrame,
      uni: DataFrame,
      ltStats: DataFrame,
      docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    def d38(c: Column) = c.cast("decimal(38,0)")
    val bg = bigramsOf(docsDf)
    // ONE pinned pair-count materialization feeds every model consumer
    // (cfl + the per-pair join): pair types are data-bounded model
    // state, and the checkpoint both pays the corpus tokenize/agg once
    // and arms the skew split on the corpus join (pinned rationale) —
    // never relying on exchange reuse across consumers
    val cf2 = pinned(pairCounts.groupBy($"w1", $"w2").agg(sum($"cf2").as("cf2")))
    val cfl = cf2.groupBy($"w1").agg(sum($"cf2").as("cfl"))
    val stats = ltStats
    val num = d38(lit(7) * $"cf2") * d38($"lt") +
      d38(lit(3) * $"cf1") * d38($"cfl")
    val den = d38(lit(10) * $"cfl") * d38($"lt")
    val perDoc = bg
      .join(cf2.join(cfl, Seq("w1")), Seq("w1", "w2"))
      .join(uni, Seq("w2"))
      .crossJoin(broadcast(stats))
      .select($"doc_id", X.r6(num.cast("double") / den.cast("double")).as("r"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)")).as("sr"),
        count(lit(1)).as("n_bigrams"))
    docsDf
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        when(
          $"n_bigrams" > 0,
          X.r6($"sr".cast("double") / $"n_bigrams".cast("double")))
          .as("interp6"))
      .orderBy($"doc_id")
  }

  private val LmInterpSql =
    s"WITH $BigramCtes, " +
      "uni AS (SELECT unnest(tk) AS term FROM toks), " +
      "cf1 AS (SELECT term AS w2, CAST(count(*) AS BIGINT) AS cf1 FROM uni GROUP BY 1), " +
      "stats AS (SELECT CAST(count(*) AS BIGINT) AS lt FROM uni), " +
      "sc AS (SELECT doc_id, floor(" +
      "CAST(7 * c.cf2 * s.lt + 3 * u.cf1 * l.cfl AS DOUBLE) / " +
      "CAST(10 * l.cfl * s.lt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r " +
      "FROM bg JOIN cf2 c USING (w1, w2) JOIN cfl l USING (w1) " +
      "JOIN cf1 u USING (w2), stats s), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_bigrams FROM sc GROUP BY 1) " +
      "SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, " +
      "CASE WHEN a.n_bigrams > 0 THEN " +
      "floor(a.sr / a.n_bigrams * 1e6 + 0.5) / 1e6 END AS interp6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"

  /** q_lm_kn — interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    * Chen & Goodman 1996's benchmark winner, the smoothing KenLM ships as
    * its default — the rung past q_lm_interp's Jelinek-Mercer): absolute
    * discount D = 3/4 off every observed pair, the freed mass backing off
    * to the CONTINUATION distribution — p_cont(w2) = (distinct left
    * contexts of w2) / (distinct pair types) — not the raw unigram, so a
    * token frequent only inside one collocation ("francisco") stops
    * inflating unseen contexts. Per observed pair:
    *
    *   p = (c12 − D)/cfl(w1) + D·n1(w1)/cfl(w1) · ncont(w2)/npairs
    *
    * with n1(w1) = distinct continuation types of w1 (so the per-w1 mass
    * exactly re-normalizes: Σ_w2 p = 1 over observed + backed-off mass).
    * Denominators cleared into ONE integer ratio per pair —
    *
    *   p = ((4·c12 − 3)·npairs + 3·n1·ncont) / (4·cfl·npairs)
    *
    * every factor a count (c12 ≥ 1 keeps the discounted term positive),
    * products in decimal(38,0) so 100-TB-scale counts can't wrap, one
    * IEEE division, r6, the standard decimal(18,6) per-doc mean.
    * Scale shape: the per-pair model (cf2 ⋈ cfl/n1 ⋈ ncont) is
    * vocabulary-bounded and checkpointed ([[pinned]] — skew-split armed
    * on the corpus join), npairs is one broadcast row, no corpus window.
    */
  private def lmKn(s: SparkSession, d: String): DataFrame =
    lmKnOf(docs(s, d))

  private[graft] def lmKnOf(docsDf: DataFrame): DataFrame =
    lmKnFromCounts(bigramCountsOf(docsDf), docsDf)

  /** The Kneser-Ney model over ANY pair-count frame — the seam the
    * continuous serve shares with the registry query
    * ([[graft.ops.StreamOps.serveLmKnContinuous]]): every model quantity
    * (cfl, n1, ncont, npairs) derives from the pair counts alone, so the
    * maintained bigram state is the WHOLE model input (split-keyed rows
    * re-aggregated here).
    */
  private[graft] def lmKnFromCounts(
      pairCounts: DataFrame,
      docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    def d38(c: Column) = c.cast("decimal(38,0)")
    val bg = bigramsOf(docsDf)
    // ONE pinned pair-count materialization feeds every model consumer
    // (left + ncont + stats + the per-pair join): pair types are
    // vocabulary-bounded model state, and the checkpoint both pays the
    // pair aggregation once and arms the skew split on the corpus join
    // (pinned rationale) — the registry path passes a plain aggregation
    // here, so without this pin the bg⋈model join would lose the split
    val cf2 = pinned(pairCounts.groupBy($"w1", $"w2").agg(sum($"cf2").as("cf2")))
    val left = cf2.groupBy($"w1")
      .agg(sum($"cf2").as("cfl"), count(lit(1)).as("n1"))
    val ncont = cf2.groupBy($"w2").agg(count(lit(1)).as("ncont"))
    val stats = cf2.agg(count(lit(1)).as("npairs"))
    val model = cf2.join(left, Seq("w1")).join(ncont, Seq("w2"))
    val num = d38(lit(4) * $"cf2" - 3) * d38($"npairs") +
      d38(lit(3) * $"n1") * d38($"ncont")
    val den = d38(lit(4) * $"cfl") * d38($"npairs")
    val perDoc = bg
      .join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(stats))
      .select($"doc_id", X.r6(num.cast("double") / den.cast("double")).as("r"))
      .groupBy($"doc_id")
      .agg(
        sum($"r".cast("decimal(38,6)")).as("sr"),
        count(lit(1)).as("n_bigrams"))
    docsDf
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        when(
          $"n_bigrams" > 0,
          X.r6($"sr".cast("double") / $"n_bigrams".cast("double")))
          .as("kn6"))
      .orderBy($"doc_id")
  }

  private val LmKnSql =
    s"WITH $BigramCtes, " +
      "n1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM cf2 GROUP BY 1), " +
      "nc AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM cf2 GROUP BY 1), " +
      "np AS (SELECT CAST(count(*) AS BIGINT) AS npairs FROM cf2), " +
      "sc AS (SELECT doc_id, floor(" +
      "CAST((4 * c.cf2 - 3) * p.npairs + 3 * o.n1 * n.ncont AS DOUBLE) / " +
      "CAST(4 * l.cfl * p.npairs AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r " +
      "FROM bg JOIN cf2 c USING (w1, w2) JOIN cfl l USING (w1) " +
      "JOIN n1 o USING (w1) JOIN nc n USING (w2), np p), " +
      "agg AS (SELECT doc_id, CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr, " +
      "CAST(count(*) AS BIGINT) AS n_bigrams FROM sc GROUP BY 1) " +
      "SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, " +
      "CASE WHEN a.n_bigrams > 0 THEN " +
      "floor(a.sr / a.n_bigrams * 1e6 + 0.5) / 1e6 END AS kn6 " +
      "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"

  // ---- cross-split application -----------------------------------------

  /** The q_split_assign hash ladder as a column over doc_id — the same
    * pure function every split-aware operator shares, so the assignment
    * is engine-independent and needs no persisted split table.
    */
  private[graft] def splitCol(docId: Column): Column = {
    val bucket = pmod(Hashing.h32(docId.cast("string")), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
  }

  /** q_lm_apply — the PRODUCTION shape of the CCNet filter: the model is
    * trained on the TRAIN split only and applied to every valid/test
    * document (Wenzek et al. train on curated text and score the crawl —
    * scoring a doc with a model that saw it is the leakage q_split_assign
    * exists to prevent). Out-of-vocabulary tokens — eval terms the train
    * split never produced, impossible in the self-scoring q_lm_score —
    * are REPORTED (n_oov) rather than smoothed: smoothing choices are
    * caller policy, and the exact-arithmetic contract scores the
    * in-vocab tokens (mean train-rarity, denominators from TRAIN totals)
    * while the OOV rate is itself a quality signal (CCNet's models treat
    * high-OOV documents as tail). Total over the eval split: a doc with
    * zero model tokens or all-OOV tokens keeps its row with a NULL
    * score. Scale shape: identical to q_lm_score (one counts aggregate —
    * over the train 80 % — one term join, one doc-keyed reduce); the
    * split label is a pure hash of doc_id, computed map-side, never
    * joined.
    */
  private def lmApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fts = TextOps.bm25TokensOf(docs(s, d))
      .withColumn("split", splitCol($"doc_id"))
    val counts = unigramCountsOf(
      fts.filter($"split" === "train").select($"doc_id", $"term"))
    // no re-pin (r19 opt, the rarityAggOf rule): unigramCountsOf is
    // already checkpoint-backed
    val agg = fts
      .filter($"split" =!= "train")
      .join(counts, Seq("term"), "left")
      .select(
        $"doc_id",
        when(
          $"cf".isNotNull,
          X.r6($"n_total".cast("double") / $"cf".cast("double"))).as("r"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when($"r".isNull, 1L).otherwise(0L)).as("n_oov"),
        sum($"r".cast("decimal(38,6)")).as("sr"))
    docs(s, d)
      .select($"doc_id", splitCol($"doc_id").as("split"))
      .filter($"split" =!= "train")
      .join(agg, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"split",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_oov", lit(0L)).as("n_oov"),
        when(
          $"n_tokens" - $"n_oov" > 0,
          X.r6($"sr".cast("double") /
            ($"n_tokens" - $"n_oov").cast("double")))
          .as("rarity6"))
      .orderBy($"doc_id")
  }

  private val LmApplySql = {
    val b = s"${Hashing.h32Sql("CAST(doc_id AS VARCHAR)")} % 100"
    val split = s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' ELSE 'test' END"
    "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term " +
      "FROM documents), " +
      "ft AS (SELECT doc_id, term FROM tok " +
      "WHERE regexp_full_match(term,'[a-z0-9]{3,}')), " +
      s"fts AS (SELECT doc_id, $split AS split, term FROM ft), " +
      "cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM fts " +
      "WHERE split = 'train' GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM fts " +
      "WHERE split = 'train'), " +
      "ev AS (SELECT f.doc_id, c.cf FROM fts f LEFT JOIN cf c USING (term) " +
      "WHERE f.split <> 'train'), " +
      "sc AS (SELECT doc_id, CASE WHEN cf IS NOT NULL THEN " +
      "floor(CAST(n_total AS DOUBLE) / CAST(cf AS DOUBLE) * 1e6 + 0.5) / 1e6 " +
      "END AS r FROM ev CROSS JOIN tot), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(count(*) FILTER (WHERE r IS NULL) AS BIGINT) AS n_oov, " +
      "CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr FROM sc GROUP BY 1) " +
      s"SELECT d.doc_id, $split AS split, " +
      "coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.n_oov, 0) AS n_oov, " +
      "CASE WHEN a.n_tokens - a.n_oov > 0 THEN " +
      "floor(a.sr / (a.n_tokens - a.n_oov) * 1e6 + 0.5) / 1e6 END AS rarity6 " +
      s"FROM documents d LEFT JOIN agg a USING (doc_id) WHERE ($split) <> 'train' " +
      "ORDER BY d.doc_id"
  }

  /** q_lm_bigram_apply — the bigram side of the train-only contract:
    * pair counts from the TRAIN split, surprise scored over every
    * valid/test document. Cross-split leakage matters MOST here — a pair
    * table memorizes word order, so a model that saw the eval doc scores
    * its exact phrasing as expected — and the OOV accounting is
    * per-PAIR: an eval bigram the train split never produced (including
    * any pair whose left context is itself unseen) is reported in
    * n_oov, not smoothed; in-vocab pairs score mean r6(cfl/cf2) with
    * TRAIN-side denominators. Total over the eval split (docs with < 2
    * model tokens or all-OOV pairs keep their row, NULL score). Scale
    * shape: q_lm_bigram_score's (one pair-count aggregate over the
    * train 80 %, one (w1,w2) left-join, one doc-keyed reduce); the
    * split label stays a map-side hash of doc_id, never joined.
    */
  private def lmBigramApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lmBigramApplyFromCounts(
      bigramCountsOf(docs(s, d).filter(splitCol($"doc_id") === "train")),
      docs(s, d))
  }

  /** The apply seam over any TRAIN-split (w1, w2, cf2) counts frame —
    * re-aggregated first, so merge-on-read generation unions from the
    * continuous BigramFamily ([[bigramCountsSplitOf]] payloads filtered
    * to split = 'train') serve the byte-identical answer
    * ([[graft.ops.StreamOps.serveLmBigramApplyContinuous]]).
    */
  private[graft] def lmBigramApplyFromCounts(
      trainCounts: DataFrame,
      allDocs: DataFrame): DataFrame = {
    import allDocs.sparkSession.implicits._
    // pin the re-aggregated pair counts, derive cfl from the checkpoint
    // (r19 opt, the lmBigramScore/lmKnFromCounts shape): pinning agg ⋈
    // cfl ran the train-corpus pair aggregate on both sides of the pin
    // job; the model join of two checkpoint-derived frames stays
    // materialization-backed for the skew split.
    val agg = pinned(
      trainCounts.groupBy($"w1", $"w2").agg(sum($"cf2").as("cf2")))
    val model = agg.join(
      agg.groupBy($"w1").agg(sum($"cf2").as("cfl")), Seq("w1"))
    val perDoc = bigramsOf(allDocs.filter(splitCol($"doc_id") =!= "train"))
      .join(model, Seq("w1", "w2"), "left")
      .select(
        $"doc_id",
        when(
          $"cf2".isNotNull,
          X.r6($"cfl".cast("double") / $"cf2".cast("double"))).as("r"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when($"r".isNull, 1L).otherwise(0L)).as("n_oov"),
        sum($"r".cast("decimal(38,6)")).as("sr"))
    allDocs
      .select($"doc_id", splitCol($"doc_id").as("split"))
      .filter($"split" =!= "train")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"split",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_oov", lit(0L)).as("n_oov"),
        when(
          $"n_bigrams" - $"n_oov" > 0,
          X.r6($"sr".cast("double") /
            ($"n_bigrams" - $"n_oov").cast("double")))
          .as("surprise6"))
      .orderBy($"doc_id")
  }

  private val LmBigramApplySql = {
    val b = s"${Hashing.h32Sql("CAST(doc_id AS VARCHAR)")} % 100"
    val split = s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' ELSE 'test' END"
    "WITH toks AS (SELECT doc_id, " +
      s"$split AS split, " +
      "list_filter(string_split(lower(text), ' '), " +
      "t -> regexp_full_match(t, '[a-z0-9]{3,}')) AS tk FROM documents), " +
      "bg AS (SELECT doc_id, split, " +
      "unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1, " +
      "unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i + 1])) AS w2 " +
      "FROM toks WHERE len(tk) >= 2), " +
      "cf2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cf2 FROM bg " +
      "WHERE split = 'train' GROUP BY 1, 2), " +
      "cfl AS (SELECT w1, CAST(count(*) AS BIGINT) AS cfl FROM bg " +
      "WHERE split = 'train' GROUP BY 1), " +
      "ev AS (SELECT b.doc_id, c.cf2, l.cfl FROM bg b " +
      "LEFT JOIN cf2 c USING (w1, w2) LEFT JOIN cfl l USING (w1) " +
      "WHERE b.split <> 'train'), " +
      "sc AS (SELECT doc_id, CASE WHEN cf2 IS NOT NULL THEN " +
      "floor(CAST(cfl AS DOUBLE) / CAST(cf2 AS DOUBLE) * 1e6 + 0.5) / 1e6 " +
      "END AS r FROM ev), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
      "CAST(count(*) FILTER (WHERE r IS NULL) AS BIGINT) AS n_oov, " +
      "CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sr FROM sc GROUP BY 1) " +
      s"SELECT d.doc_id, $split AS split, " +
      "coalesce(a.n_bigrams, 0) AS n_bigrams, coalesce(a.n_oov, 0) AS n_oov, " +
      "CASE WHEN a.n_bigrams - a.n_oov > 0 THEN " +
      "floor(a.sr / (a.n_bigrams - a.n_oov) * 1e6 + 0.5) / 1e6 END AS surprise6 " +
      s"FROM documents d LEFT JOIN agg a USING (doc_id) WHERE ($split) <> 'train' " +
      "ORDER BY d.doc_id"
  }

  // ---- per-language serve from the postings state ----------------------

  /** Per-language scores from the MAINTAINED POSTINGS plus the lake's
    * (doc_id, lang) map — the per-language analogue of
    * [[lmScoreAggFromPostings]]: lang attaches to each posting by one
    * doc-keyed join (the lake column the index build deliberately does
    * not persist — language is lake metadata, not index state), then
    * cf(lang, term) = Σ tf and n_total(lang) = Σ tf group per language,
    * and the same tf-grouping identity makes the decimal sums exact.
    * The continuous serve ([[graft.ops.StreamOps.serveLmScoreLangContinuous]])
    * rides this seam so the per-language production default needs no new
    * stream either.
    */
  private[graft] def lmScoreLangAggFromPostings(
      postings: DataFrame,
      docLang: DataFrame): DataFrame = {
    import postings.sparkSession.implicits._
    val pl = postings.join(docLang.select($"doc_id", $"lang"), Seq("doc_id"))
    val counts = pl
      .groupBy($"lang", $"term")
      .agg(sum($"tf").as("cf"))
      .join(
        broadcast(pl.groupBy($"lang").agg(sum($"tf").as("n_total"))),
        Seq("lang"))
    pl
      .join(pinned(counts), Seq("lang", "term"))
      .select(
        $"doc_id",
        ($"tf".cast("decimal(12,0)") *
          X.r6($"n_total".cast("double") / $"cf".cast("double"))
            .cast("decimal(25,6)")).as("rterm"),
        $"tf")
      .groupBy($"doc_id")
      .agg(sum($"rterm").as("sr"), sum($"tf").as("n_tokens"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_lm_unigram", lmUnigram, Some(LmUnigramSql)),
    QueryDef("q_lm_score", lmScore, Some(LmScoreSql)),
    QueryDef("q_lm_score_incr", lmScoreIncr, Some(LmScoreIncrSql)),
    QueryDef("q_lm_bucket", lmBucket, Some(LmBucketSql)),
    QueryDef("q_lm_unigram_lang", lmUnigramLang, Some(LmUnigramLangSql)),
    QueryDef("q_lm_score_lang", lmScoreLang, Some(LmScoreLangSql)),
    QueryDef("q_lm_bigram", lmBigram, Some(LmBigramSql)),
    QueryDef("q_lm_bigram_score", lmBigramScore, Some(LmBigramScoreSql)),
    QueryDef("q_lm_interp", lmInterp, Some(LmInterpSql)),
    QueryDef("q_lm_kn", lmKn, Some(LmKnSql)),
    QueryDef("q_lm_apply", lmApply, Some(LmApplySql)),
    QueryDef("q_lm_bigram_apply", lmBigramApply, Some(LmBigramApplySql)))
}
