package graft.ops

import graft.{QueryDef, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier C text analysis (charter): token statistics, corpus stats,
  * heuristic language ID, quality scoring, rolling-hash fingerprinting,
  * token counting — the scoring/filtering stages of an LLM data pipeline,
  * all as map-side expressions (no shuffle except the final aggregates).
  *
  * No transcendentals anywhere: cross-libm log/exp are not bit-stable, so
  * quality scores are rational functions only (graft.X rationale).
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = T(s, d, "documents")

  /** q_text_tokens — corpus token frequency, top-100. explode → two-phase
    * hash aggregate; at 100 TB this is the classic word-count shuffle with
    * map-side partial aggregation.
    */
  private def textTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(100)
  }

  /** q_text_stats — per-language corpus stats (reference report shape,
    * main.py:307-315 analog). All-integer aggregation: exact.
    */
  private def textStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        countDistinct($"source").as("n_sources"))
      .withColumn("avg_chars", $"total_chars".cast("double") / $"n_docs".cast("double"))
      .orderBy("lang")
  }

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. The testdata vocabulary is synthetic (31 shared tokens), so
    * the interesting property is the deterministic scoring pipeline, not
    * linguistic accuracy.
    */
  private val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "table", "row", "value"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "zh" -> Seq("de", "shi", "zai", "he", "bu"))

  /** q_text_langid — stopword-hit scoring + deterministic argmax. */
  private def textLangid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = array_distinct(split($"text", " "))
    val scored = docs(s, d).select(
      $"doc_id" +: $"lang" +:
        Stopwords.map { case (l, words) =>
          size(array_intersect(toks, lit(words.toArray))).as(s"s_$l")
        }: _*)
    // priority-ordered argmax: first language with a maximal score wins
    val langs = Stopwords.map(_._1)
    val pred = langs
      .foldRight(lit(langs.last): Column) { case (l, rest) =>
        when(
          langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _),
          lit(l)).otherwise(rest)
      }
    scored.withColumn("pred_lang", pred).orderBy("doc_id")
  }

  private val LangidSql = {
    val scores = Stopwords
      .map { case (l, words) =>
        s"len(list_intersect(t, [${words.map(w => s"'$w'").mkString(", ")}])) AS s_$l"
      }
      .mkString(", ")
    val langs = Stopwords.map(_._1)
    val pred = langs.foldRight(s"'${langs.last}'") { case (l, rest) =>
      val cond = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"CASE WHEN $cond THEN '$l' ELSE $rest END"
    }
    "SELECT doc_id, lang, " + langs.map(l => s"s_$l").mkString(", ") +
      s", $pred AS pred_lang FROM (" +
      s"SELECT doc_id, lang, $scores FROM " +
      "(SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t " +
      "FROM documents)) ORDER BY doc_id"
  }

  /** q_text_quality — rational quality features per document: token counts,
    * lexical diversity, chars/token, short-doc flag.
    */
  private def textQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        $"n_chars",
        size(split($"text", " ")).as("n_tokens"),
        size(array_distinct(split($"text", " "))).as("n_distinct"))
      .withColumn(
        "distinct_ratio",
        $"n_distinct".cast("double") / $"n_tokens".cast("double"))
      .withColumn(
        "chars_per_token",
        $"n_chars".cast("double") / $"n_tokens".cast("double"))
      .withColumn("is_short", $"n_chars" < 100)
      .orderBy("doc_id")
  }

  private val QualitySql =
    "SELECT doc_id, n_chars, n_tokens, n_distinct, " +
      "CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio, " +
      "CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token, " +
      "n_chars < 100 AS is_short FROM (" +
      "SELECT doc_id, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
      "CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct " +
      "FROM documents) ORDER BY doc_id"

  /** q_text_fingerprint — order-sensitive rolling polynomial hash over the
    * token stream (document fingerprinting; integer-exact and portable,
    * unlike engine-native hashes). One fused pass per row
    * ([[graft.expr.RollingFingerprint]] — the `aggregate` fold it
    * replaces was an interpreted ascii+length eval per token).
    */
  private def textFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", graft.expr.RollingFingerprint($"text").as("fingerprint"))
      .orderBy("doc_id")
  }

  private val FingerprintSql =
    "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(text, ' '), " +
      "t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))), " +
      s"(acc, v) -> (acc * 131 + v) % ${Hashing.P}) AS fingerprint " +
      "FROM documents ORDER BY doc_id"

  /** q_text_count_tokens — whitespace token count + a bytes/4 BPE-style
    * estimate (the standard subword-count heuristic).
    */
  private def textCountTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        size(split($"text", " ")).as("n_ws_tokens"),
        ceil($"n_chars" / 4d).as("est_bpe_tokens"))
      .orderBy("doc_id")
  }

  private val CountTokensSql =
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens, " +
      "CAST(ceil(n_chars / 4) AS BIGINT) AS est_bpe_tokens " +
      "FROM documents ORDER BY doc_id"

  /** The GPT-2-style pre-tokenizer alternation, lookahead-free so Java
    * regex and RE2 produce identical matches: a letter run, a digit run,
    * or a punctuation run (each with an optional leading space), else a
    * single whitespace. What a real BPE tokenizer would merge within —
    * counting the matches is the honest subword-budget estimate the
    * bytes/4 heuristic (q_text_count_tokens) approximates.
    */
  private val PreTokenPattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s"

  /** q_text_pretokens — BPE-regex pre-tokenization count per document
    * (the charter's "BPE-ish regex" token counting): `regexp_count` of
    * the pre-tokenizer alternation, alongside the whitespace count for
    * calibration. Pure map-side; the regex engine runs inside the scan
    * stage.
    */
  private def textPretokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        regexp_count($"text", lit(PreTokenPattern)).as("n_pre_tokens"),
        size(split($"text", " ")).as("n_ws_tokens"))
      .orderBy("doc_id")
  }

  private val PretokensSql =
    "SELECT doc_id, CAST(len(regexp_extract_all(text, " +
      "' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s')) AS INTEGER) AS n_pre_tokens, " +
      "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens " +
      "FROM documents ORDER BY doc_id"

  /** q_text_ngrams — corpus bigram frequency, top-20: the n-gram language
    * model / contamination-check primitive. Adjacent-pair expansion is one
    * fused map-side pass per row ([[graft.expr.BigramConcat]] — the
    * `transform(sequence(…))` HOF it replaces evaluated an interpreted
    * concat per bigram); the only shuffle is the two-phase count
    * aggregate, exactly like q_text_tokens.
    */
  private def textNgrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(split($"text", " ").as("tk"))
      .filter(size($"tk") >= 2)
      .select(explode(graft.expr.BigramConcat($"tk")).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  private val NgramsSql =
    "SELECT bigram, COUNT(*) AS n FROM (" +
      "SELECT unnest(list_transform(generate_series(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM " +
      "(SELECT string_split(text, ' ') AS tk FROM documents) WHERE len(tk) >= 2" +
      ") GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"

  /** q_text_boilerplate — CCNet-style cross-document boilerplate
    * detection (Wenzek et al., arXiv:1911.00359 run paragraph-hash
    * dedup; RefinedWeb line-frequency scrubbing is the same idea):
    * a token 3-shingle occurring in ≥ [[BoilerMinDocs]] DISTINCT
    * documents is boilerplate (headers, footers, navigation chrome,
    * license blurbs), and the per-document report
    * (n_shingles, n_boiler, boiler_pct) is the gate a curation
    * pipeline thresholds on before training. Shape at 100 TB: the
    * shingling is a map-side explode, document frequency is one hash
    * aggregate on the shingle key, and the occurrence⋈frequency join
    * is a plain equi-join on that key — 1:1 per occurrence (the
    * frequency side is distinct by shingle), so the hottest
    * boilerplate shingle fans out linearly, never quadratically, and
    * AQE skew-split covers the hot key. boiler_pct is one IEEE
    * division of two exact integers — bit-identical cross-engine (the
    * q_win_dist precedent). Documents with fewer than 3 tokens carry
    * no shingle and are out of scope by contract (mirrored in the
    * oracle's len(tk) >= 3).
    */
  private val BoilerMinDocs = 3

  /** Per-document 3-shingle occurrence counts (doc_id, s3, n) — the
    * ADDITIVE state unit of the boilerplate report: a document's counts
    * are generation-local (each doc is wholly in one ingest batch) and
    * shingle document-frequency over disjoint doc sets is a plain sum,
    * so the continuous family persists exactly this frame per batch.
    */
  private[graft] def shingleCountsOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    // fused 3-gram emitter — same CodegenFallback-HOF removal as
    // passageGramsOf (r18 opt); identical shingle strings, same oracle
    docsDf
      .select($"doc_id", split($"text", " ").as("tk"))
      .filter(size($"tk") >= 3)
      .select($"doc_id", explode(graft.expr.Grams($"tk", 3)).as("s3"))
      .groupBy($"doc_id", $"s3")
      .agg(count(lit(1)).as("n"))
  }

  /** The report over a (doc_id, s3, n) counts frame: document frequency
    * is one row-count per shingle (the frame is unique on (doc, s3)),
    * and the per-doc totals weight by occurrence multiplicity.
    */
  private[graft] def boilerplateReportOf(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val dfreq = counts.groupBy($"s3").agg(count(lit(1)).as("nd"))
    counts
      .join(dfreq, Seq("s3"))
      .groupBy($"doc_id")
      .agg(
        sum($"n").as("n_shingles"),
        sum(when($"nd" >= BoilerMinDocs, $"n").otherwise(0L)).as("n_boiler"))
      .select(
        $"doc_id",
        $"n_shingles",
        $"n_boiler",
        ($"n_boiler".cast("double") / $"n_shingles".cast("double")).as("boiler_pct"))
      .orderBy($"doc_id")
  }

  private def textBoilerplate(s: SparkSession, d: String): DataFrame =
    boilerplateReportOf(shingleCountsOf(docs(s, d)))

  private val BoilerplateSql =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s3 " +
      "FROM toks WHERE len(tk) >= 3), " +
      "d AS (SELECT s3, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1), " +
      "agg AS (SELECT sh.doc_id AS doc_id, count(*) AS ns, " +
      "count(CASE WHEN d.nd >= 3 THEN 1 END) AS nb " +
      "FROM sh JOIN d USING (s3) GROUP BY 1) " +
      "SELECT doc_id, CAST(ns AS BIGINT) AS n_shingles, CAST(nb AS BIGINT) AS n_boiler, " +
      "CAST(nb AS DOUBLE) / CAST(ns AS DOUBLE) AS boiler_pct " +
      "FROM agg ORDER BY doc_id"

  /** q_text_boilerplate_frac — the CORPUS-SCALE boilerplate threshold:
    * a shingle is boilerplate when it appears in ≥ max([[BoilerMinDocs]],
    * ⌈0.2 % of the shingled corpus⌉) distinct documents. The fixed
    * absolute threshold of q_text_boilerplate degenerates at 100 TB —
    * essentially every common-phrase shingle crosses 3 documents and
    * boiler_pct saturates — so the production gate scales the document-
    * frequency cut with the corpus: at 5 k docs the cut is 10, at 50 M
    * it is 100 k, and only genuine cross-document chrome (headers,
    * license blurbs, navigation) stays above it. The fraction is exact
    * integer arithmetic (⌈n·2/1000⌉ = (n·2+999) div 1000) — no float
    * threshold to drift cross-engine — and the corpus size is one extra
    * O(1) broadcast-attached scalar, so the plan shape (map-side shingle
    * explode → one hash agg → 1:1 equi-join) is unchanged.
    */
  private[graft] val BoilerFracNum = 2L    // numerator of the 0.2 % cut
  private[graft] val BoilerFracDen = 1000L

  private[graft] def boilerplateFracReportOf(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    // corpus size = distinct shingled documents, exact-integer fraction;
    // one row, broadcast-attached (the codebook/threshold idiom)
    val thr = counts
      .agg(countDistinct($"doc_id").as("ndocs"))
      .select(
        greatest(
          lit(BoilerMinDocs.toLong),
          // exact INTEGER ceil-division: Column `/` on longs is DOUBLE
          // division in Spark (ndocs=1600 would give thr=4.199 and
          // misclassify a family with nd exactly at the cut), so floor
          // back to long — values are non-negative, floor ≡ integer div
          floor(($"ndocs" * BoilerFracNum + (BoilerFracDen - 1L)) / BoilerFracDen)
            .cast("long"))
          .as("thr"))
    val dfreq = counts.groupBy($"s3").agg(count(lit(1)).as("nd"))
    counts
      .join(dfreq, Seq("s3"))
      .crossJoin(broadcast(thr))
      .groupBy($"doc_id")
      .agg(
        sum($"n").as("n_shingles"),
        sum(when($"nd" >= $"thr", $"n").otherwise(0L)).as("n_boiler"))
      .select(
        $"doc_id",
        $"n_shingles",
        $"n_boiler",
        ($"n_boiler".cast("double") / $"n_shingles".cast("double")).as("boiler_pct"))
      .orderBy($"doc_id")
  }

  private def textBoilerplateFrac(s: SparkSession, d: String): DataFrame =
    boilerplateFracReportOf(shingleCountsOf(docs(s, d)))

  private val BoilerplateFracSql =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s3 " +
      "FROM toks WHERE len(tk) >= 3), " +
      "t AS (SELECT greatest(3, (count(DISTINCT doc_id) * 2 + 999) // 1000) AS thr FROM sh), " +
      "d AS (SELECT s3, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1), " +
      "agg AS (SELECT sh.doc_id AS doc_id, count(*) AS ns, " +
      "count(CASE WHEN d.nd >= t.thr THEN 1 END) AS nb " +
      "FROM sh JOIN d USING (s3), t GROUP BY 1) " +
      "SELECT doc_id, CAST(ns AS BIGINT) AS n_shingles, CAST(nb AS BIGINT) AS n_boiler, " +
      "CAST(nb AS DOUBLE) / CAST(ns AS DOUBLE) AS boiler_pct " +
      "FROM agg ORDER BY doc_id"

  /** q_text_passage_dup — cross-document EXACT-PASSAGE duplication
    * coverage (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — the suffix-array exact-substring
    * stage; RefinedWeb runs the same scrub): a token 5-gram occurring in
    * ≥ 2 DISTINCT documents marks a shared passage, and a document's
    * report is the fraction of its token positions covered by ANY shared
    * 5-gram — the "how much of this doc is copied from elsewhere" gate a
    * curation pipeline thresholds on, finer than whole-doc near-dedup
    * (it catches a quoted paragraph inside an otherwise-unique page).
    *
    * Exact-arithmetic construction, no suffix array needed for the
    * window statistic: positions are integers, a shared occurrence at
    * position i covers [i, i+4], and per-doc covered-position count is
    * the INTERVAL UNION computed with the gaps-and-islands pattern
    * (q_win_islands precedent) — islands split where a start exceeds the
    * running max end (adjacent intervals sum identically either way, so
    * only true gaps split). dup_frac is one IEEE division of two exact
    * ints (the boiler_pct precedent).
    *
    * Shape at 100 TB: gram explode is map-side; document frequency is
    * one hash aggregate on the gram key; the shared⋈occurrence join is
    * 1:1 per occurrence (frequency side distinct by gram — the
    * q_text_boilerplate skew posture: the hottest passage fans out
    * linearly, never quadratically); the islands pass is one window per
    * doc partition. Documents with fewer than 5 tokens carry no 5-gram
    * and are out of scope by contract (mirrored in the oracle's
    * len(tk) >= 5). Within-document repetition alone does NOT count —
    * shared means distinct-doc frequency ≥ 2, the cross-document
    * contract (PassageDupSpec pins it).
    */
  private val PassageK = 5

  /** Per-document shared-passage gram occurrences with positions —
    * (doc_id, g5, pos): the additive state unit of the passage report
    * (documents are generation-local; gram document-frequency over
    * disjoint doc sets is a plain distinct-count over the union).
    */
  private[graft] def passageGramsOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    // fused gram emitter (r18 opt): the composed
    // transform(sequence, i -> concat_ws(' ', slice(tk, i, K))) chain is
    // a CodegenFallback HOF — every position paid an interpreted lambda,
    // a slice allocation and a sequence walk (~2 task-sec per passage
    // query at sf0.1). graft.expr.Grams emits the IDENTICAL string array
    // in one codegen'd loop (GramsKernelSpec pins bit-equality with the
    // composed chain); the oracle SQL is unchanged.
    docsDf
      .select($"doc_id", split($"text", " ").as("tk"))
      .filter(size($"tk") >= PassageK)
      .select(
        $"doc_id",
        posexplode(graft.expr.Grams($"tk", PassageK)).as(Seq("p0", "g5")))
      .select($"doc_id", ($"p0" + 1).as("pos"), $"g5")
  }

  /** 50-token window fingerprints DERIVED from the positioned 5-gram
    * frame — the identity that lets q_dedup_passage_cc serve from the
    * maintained gram state without a second persisted family: a
    * 50-token window starting at token i is EXACTLY the [[PassageK]]-gram
    * sequence at positions i..i+45 (M − K + 1 = 46 consecutive grams),
    * and gram positions are contiguous per document by construction, so
    * equality of the 46-gram fingerprint chain ⇔ equality of the
    * 50-token window (md5-of-md5s inherits the state's negligible-
    * collision contract). One sliding window per doc partition
    * (ROWS BETWEEN CURRENT AND 45 FOLLOWING) — the same doc-keyed
    * exchange the spans kernels already pay; the 46×16 B frame is
    * transient, the emitted key is one md5. Works on both gram key
    * dialects (raw 5-token strings from [[passageGramsOf]], 16-byte
    * binaries from the slimmed state): hex() canonicalizes either
    * faithfully to equality.
    */
  private[graft] def windowFingerprintsFromGrams(grams: DataFrame): DataFrame = {
    import grams.sparkSession.implicits._
    val m = PassageMinMatch - PassageK + 1 // 46 grams = one 50-token window
    val w = Window
      .partitionBy($"doc_id")
      .orderBy($"pos")
      .rowsBetween(Window.currentRow, m - 1)
    grams
      .select($"doc_id", $"pos", $"g5")
      .withColumn("ws", collect_list(hex($"g5")).over(w))
      .filter(size($"ws") === m)
      // "|" separator (outside the hex alphabet): the raw-string gram
      // dialect hex()es to VARIABLE-length pieces, and an unseparated
      // concatenation of variable-length pieces is not injective — two
      // different chains could concatenate equal and fabricate a
      // window-equality edge beyond the accepted md5-collision contract
      .select($"doc_id", md5(concat_ws("|", $"ws")).as("g50"))
      .distinct()
  }

  /** The maximal shared-passage spans per document — (doc_id,
    * span_start, span_end, span_tokens), 1-based inclusive token
    * positions, ordered — the ACTIONABLE scrub output a remover consumes
    * (q_text_passage_dup's report is this frame's per-doc account).
    * Shared occurrences are [pos, pos+K-1] intervals; the union per doc
    * is the islands split where a start exceeds the running max end.
    */
  /** Interval-union islands over (doc_id, pos, pend) token intervals,
    * carrying `extra` per-doc columns through — the ONE islands kernel
    * behind q_text_passage_spans, q_split_decontaminate, and the
    * min-match-length variants (whose kept runs are variable-width
    * intervals, hence the explicit pend).
    */
  private[graft] def intervalSpansOf(iv: DataFrame, extra: Seq[String]): DataFrame = {
    import iv.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    iv
      .select((col("doc_id") +: extra.map(col) :+ $"pos" :+ $"pend"): _*)
      .withColumn(
        "prev_max_end",
        max($"pend").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn(
        "island",
        sum(when($"prev_max_end".isNull || $"pos" > $"prev_max_end", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(($"doc_id" +: extra.map(col) :+ $"island"): _*)
      .agg(
        min($"pos").cast("long").as("span_start"),
        max($"pend").cast("long").as("span_end"))
      .select((col("doc_id") +: extra.map(col) :+
        $"span_start" :+ $"span_end" :+
        ($"span_end" - $"span_start" + 1L).as("span_tokens")): _*)
      .orderBy($"doc_id", $"span_start")
  }

  /** K-wide occurrences → intervals: the adapter the fixed-K callers
    * (passage spans, decontaminate) feed the interval kernel with.
    */
  private def islandSpansOf(occ: DataFrame, extra: Seq[String]): DataFrame = {
    import occ.sparkSession.implicits._
    intervalSpansOf(
      occ.withColumn("pend", $"pos" + (PassageK - 1)),
      extra)
  }

  private[graft] def passageSpansOf(grams: DataFrame): DataFrame = {
    import grams.sparkSession.implicits._
    val shared = grams
      .groupBy($"g5")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"g5")
    islandSpansOf(grams.join(shared, Seq("g5")), Seq.empty)
  }

  /** Per-doc coverage account of a span frame against the gram frame's
    * token extents — the shared report shape of q_text_passage_dup and
    * its min-match-length variant.
    */
  private def coverageReportOf(grams: DataFrame, spans: DataFrame): DataFrame = {
    import grams.sparkSession.implicits._
    val nTok = grams
      .groupBy($"doc_id")
      .agg((max($"pos") + (PassageK - 1)).cast("long").as("n_tokens"))
    val covered = spans
      .groupBy($"doc_id")
      .agg(sum($"span_tokens").as("n_covered"), count(lit(1)).as("n_spans"))
    nTok
      .join(covered, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"n_tokens",
        coalesce($"n_covered", lit(0L)).as("n_covered"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        (coalesce($"n_covered", lit(0L)).cast("double") /
          $"n_tokens".cast("double")).as("dup_frac"))
      .orderBy($"doc_id")
  }

  private[graft] def passageDupReportOf(grams: DataFrame): DataFrame =
    coverageReportOf(grams, passageSpansOf(grams))

  private def textPassageDup(s: SparkSession, d: String): DataFrame =
    passageDupReportOf(passageGramsOf(docs(s, d)))

  /** q_text_passage_spans — the spans themselves: what the scrubber
    * deletes (or the auditor samples). Same candidate machinery as
    * q_text_passage_dup, emitted as maximal (doc_id, span_start,
    * span_end, span_tokens) rows instead of the per-doc account.
    */
  private def textPassageSpans(s: SparkSession, d: String): DataFrame =
    passageSpansOf(passageGramsOf(docs(s, d)))

  private val PassageSpansSql =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS pos, " +
      "unnest(list_transform(generate_series(1, len(tk) - 4), " +
      "i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g5 " +
      "FROM toks WHERE len(tk) >= 5), " +
      "shared AS (SELECT g5 FROM g GROUP BY g5 HAVING count(DISTINCT doc_id) >= 2), " +
      "iv AS (SELECT doc_id, pos, pos + 4 AS pend FROM g JOIN shared USING (g5)), " +
      "mk AS (SELECT doc_id, pos, pend, " +
      "max(pend) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end FROM iv), " +
      "isl AS (SELECT doc_id, pos, pend, " +
      "sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM mk) " +
      "SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, " +
      "CAST(max(pend) AS BIGINT) AS span_end, " +
      "CAST(max(pend) - min(pos) + 1 AS BIGINT) AS span_tokens " +
      "FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start"

  private val PassageDupSql =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS pos, " +
      "unnest(list_transform(generate_series(1, len(tk) - 4), " +
      "i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g5 " +
      "FROM toks WHERE len(tk) >= 5), " +
      "ntok AS (SELECT doc_id, max(pos) + 4 AS n_tokens FROM g GROUP BY 1), " +
      "shared AS (SELECT g5 FROM g GROUP BY g5 HAVING count(DISTINCT doc_id) >= 2), " +
      "iv AS (SELECT doc_id, pos, pos + 4 AS pend FROM g JOIN shared USING (g5)), " +
      "mk AS (SELECT doc_id, pos, pend, " +
      "max(pend) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end FROM iv), " +
      "isl AS (SELECT doc_id, pos, pend, " +
      "sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM mk), " +
      "per_island AS (SELECT doc_id, island, max(pend) - min(pos) + 1 AS len " +
      "FROM isl GROUP BY 1, 2), " +
      "cov AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_covered, " +
      "CAST(count(*) AS BIGINT) AS n_spans FROM per_island GROUP BY 1) " +
      "SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens, " +
      "coalesce(c.n_covered, 0) AS n_covered, coalesce(c.n_spans, 0) AS n_spans, " +
      "CAST(coalesce(c.n_covered, 0) AS DOUBLE) / CAST(n.n_tokens AS DOUBLE) AS dup_frac " +
      "FROM ntok n LEFT JOIN cov c ON c.doc_id = n.doc_id ORDER BY n.doc_id"

  /** q_text_passage_dup50 / q_text_passage_spans50 — the CORPUS-SCALE
    * passage contract: a position counts as duplicated only when it sits
    * inside a run of ≥ [[PassageMinMatch]]−K+1 CONSECUTIVE shared gram
    * positions, i.e. an exact cross-document match of at least
    * [[PassageMinMatch]] tokens — the match length Lee et al.
    * (arXiv:2107.06499, ExactSubstr) actually deduplicate at. The plain
    * df ≥ 2 cut on single 5-grams (q_text_passage_dup) saturates on a
    * large corpus exactly as q_text_boilerplate's fixed cut does:
    * essentially every natural-language 5-gram occurs in ≥ 2 documents,
    * dup_frac → 1.0 corpus-wide, and the spans would scrub common
    * phrases. Requiring a 50-token CHAIN of shared grams is scale-stable
    * — common phrases never chain for 50 tokens; only genuinely copied
    * passages do (ScaleSpec pins the non-saturation at 10×).
    *
    * Construction on the SAME gram state (no new scan, no suffix array):
    * shared grams as before (one hash agg, df ≥ 2); per doc, maximal
    * runs of consecutive shared positions via the pos − row_number
    * ladder (one window + one hash agg); runs kept iff they span ≥
    * [[PassageMinMatch]] tokens (re − rs + K ≥ M); kept runs are
    * variable-width token intervals [rs, re+K−1] unioned by the one
    * interval-islands kernel (two kept runs can still overlap when the
    * position gap between them is < K). A 50-token match has all its
    * 5-grams shared — the necessary-condition statistic of the
    * suffix-array scrub, exact over positions, linear in corpus size.
    */
  private[graft] val PassageMinMatch = 50 // tokens; Lee et al. §4.1

  private[graft] def passageMinlenSpansOf(grams: DataFrame): DataFrame = {
    import grams.sparkSession.implicits._
    val shared = grams
      .groupBy($"g5")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"g5")
    val occ = grams.join(shared, Seq("g5")).select($"doc_id", $"pos")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val runs = occ
      .withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("rs"), max($"pos").as("re"))
      .filter($"re" - $"rs" + lit(PassageK.toLong) >= PassageMinMatch.toLong)
    intervalSpansOf(
      runs.select(
        $"doc_id",
        $"rs".as("pos"),
        ($"re" + (PassageK - 1)).as("pend")),
      Seq.empty)
  }

  private[graft] def passageMinlenReportOf(grams: DataFrame): DataFrame =
    coverageReportOf(grams, passageMinlenSpansOf(grams))

  private def textPassageDup50(s: SparkSession, d: String): DataFrame =
    passageMinlenReportOf(passageGramsOf(docs(s, d)))

  private def textPassageSpans50(s: SparkSession, d: String): DataFrame =
    passageMinlenSpansOf(passageGramsOf(docs(s, d)))

  // Shared CTE prefix: grams → shared occurrences → kept ≥50-token runs
  // as token intervals — byte-identical between the two minlen oracles.
  private val MinlenRunsSqlPrefix =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS pos, " +
      "unnest(list_transform(generate_series(1, len(tk) - 4), " +
      "i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g5 " +
      "FROM toks WHERE len(tk) >= 5), " +
      "shared AS (SELECT g5 FROM g GROUP BY g5 HAVING count(DISTINCT doc_id) >= 2), " +
      "occ AS (SELECT doc_id, pos FROM g JOIN shared USING (g5)), " +
      "rn AS (SELECT doc_id, pos, pos - row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY pos) AS grp FROM occ), " +
      "r AS (SELECT doc_id, min(pos) AS rs, max(pos) AS re FROM rn " +
      "GROUP BY doc_id, grp HAVING max(pos) - min(pos) + 5 >= 50), " +
      "iv AS (SELECT doc_id, rs AS pos, re + 4 AS pend FROM r), " +
      "mk AS (SELECT doc_id, pos, pend, " +
      "max(pend) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end FROM iv), " +
      "isl AS (SELECT doc_id, pos, pend, " +
      "sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM mk)"

  private val PassageSpans50Sql =
    MinlenRunsSqlPrefix +
      " SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, " +
      "CAST(max(pend) AS BIGINT) AS span_end, " +
      "CAST(max(pend) - min(pos) + 1 AS BIGINT) AS span_tokens " +
      "FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start"

  private val PassageDup50Sql =
    MinlenRunsSqlPrefix +
      ", ntok AS (SELECT doc_id, max(pos) + 4 AS n_tokens FROM g GROUP BY 1), " +
      "per_island AS (SELECT doc_id, island, max(pend) - min(pos) + 1 AS len " +
      "FROM isl GROUP BY 1, 2), " +
      "cov AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_covered, " +
      "CAST(count(*) AS BIGINT) AS n_spans FROM per_island GROUP BY 1) " +
      "SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens, " +
      "coalesce(c.n_covered, 0) AS n_covered, coalesce(c.n_spans, 0) AS n_spans, " +
      "CAST(coalesce(c.n_covered, 0) AS DOUBLE) / CAST(n.n_tokens AS DOUBLE) AS dup_frac " +
      "FROM ntok n LEFT JOIN cov c ON c.doc_id = n.doc_id ORDER BY n.doc_id"

  /** q_text_scrub50 — the SCRUBBED corpus itself: every document's text
    * with its ≥[[PassageMinMatch]]-token cross-document duplicated spans
    * REMOVED — the output Lee et al. (arXiv:2107.06499 §4.1) actually
    * train on (ExactSubstr deletes the matched substrings), completing
    * the family: q_text_passage_dup50 measures, q_text_passage_spans50
    * locates, this emits. Documents below K tokens carry no gram and
    * pass through untouched; a fully-covered document emits an empty
    * string (kept, so the account stays per-row complete — dropping is
    * the caller's threshold decision).
    *
    * Shape at 100 TB: the span side collapses to ONE row per scrubbed
    * doc (collect_list of its few spans — bounded by doc length / M),
    * so the only shuffle joining spans to text is a doc-keyed equi-join
    * whose right side is tiny relative to the corpus; the token-level
    * work (index every token, test it against the doc's spans, re-join
    * the survivors) happens WITHIN the row as whole-stage-codegen'd
    * higher-order functions — no per-token explode, no token-level
    * shuffle, unlike the naive posexplode⋈anti-join⋈re-aggregate plan
    * whose collect_list would re-shuffle the whole corpus text.
    */
  private[graft] def scrubMinlenOf(docsDf: DataFrame): DataFrame =
    scrubWithSpans(docsDf, passageMinlenSpansOf(passageGramsOf(docsDf)))

  /** The scrub against an EXTERNALLY-computed span frame — the seam the
    * continuous serve rides (spans from the maintained gram state, text
    * from the curated lake: one state, one lake, no re-scan).
    */
  private[graft] def scrubWithSpans(docsDf: DataFrame, spans: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    val spanArr = spans
      .groupBy($"doc_id")
      .agg(
        collect_list(struct($"span_start".as("s"), $"span_end".as("e")))
          .as("spans"),
        sum($"span_tokens").as("n_covered"))
    docsDf
      .select($"doc_id", split($"text", " ").as("tk"))
      .join(spanArr, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        expr(
          // 1-based token position p kept iff no span covers it; spans
          // are disjoint (islands output) and clipped to the doc extent
          "array_join(transform(filter(" +
            "transform(tk, (t, i) -> struct(t AS t, CAST(i + 1 AS BIGINT) AS p)), " +
            "x -> spans IS NULL OR NOT exists(spans, s -> x.p >= s.s AND x.p <= s.e)), " +
            "x -> x.t), ' ')").as("clean_text"),
        size($"tk").cast("long").as("n_tokens"),
        coalesce($"n_covered", lit(0L)).as("n_removed"))
      .orderBy($"doc_id")
  }

  private def textScrub50(s: SparkSession, d: String): DataFrame =
    scrubMinlenOf(docs(s, d))

  private val Scrub50Sql =
    MinlenRunsSqlPrefix +
      ", spans AS (SELECT doc_id, min(pos) AS s, max(pend) AS e " +
      "FROM isl GROUP BY doc_id, island), " +
      "cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans), " +
      "ncov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM cov GROUP BY 1), " +
      "tok AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos, " +
      "unnest(tk) AS tok FROM toks), " +
      "kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t " +
      "LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos " +
      "WHERE c.pos IS NULL), " +
      "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text " +
      "FROM kept GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text, " +
      "CAST(len(d.tk) AS BIGINT) AS n_tokens, coalesce(n.n_removed, 0) AS n_removed " +
      "FROM toks d LEFT JOIN agg a USING (doc_id) LEFT JOIN ncov n USING (doc_id) " +
      "ORDER BY d.doc_id"

  /** q_split_decontaminate — eval-set DECONTAMINATION at passage
    * granularity (the GPT-3 appendix-C n-gram scrub, Brown et al.
    * arXiv:2005.14165; q_split_contamination's doc-level flag made
    * actionable): for every valid/test document, the maximal token
    * spans covered by a 5-gram that also occurs in ANY train-split
    * document — the rows an eval-set scrubber deletes before
    * publishing a benchmark, where the doc-level flag would either
    * discard the whole document or miss a quoted train passage inside
    * an otherwise-clean one. Splits are the standard q_split_assign
    * hash ladder (deterministic, engine-independent); the train-gram
    * side is a distinct-projection (one hash aggregate); the
    * eval⋈train join is 1:1 per occurrence; the span union is the one
    * islands kernel shared with q_text_passage_spans.
    */
  /** The decontamination spans over a (doc_id, pos, g5) gram frame —
    * split labels re-derived from doc_id (a pure hash function), so the
    * SAME persisted gram state serves this and the duplication report.
    */
  private[graft] def decontaminateSpansOf(grams: DataFrame): DataFrame = {
    import grams.sparkSession.implicits._
    val bucket = pmod(graft.ops.Hashing.h32($"doc_id".cast("string")), lit(100L))
    val g = grams.withColumn(
      "split",
      when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
    val trainG = g.filter($"split" === "train").select($"g5").distinct()
    islandSpansOf(
      g.filter($"split" =!= "train").join(trainG, Seq("g5")),
      Seq("split"))
  }

  private def splitDecontaminate(s: SparkSession, d: String): DataFrame =
    decontaminateSpansOf(passageGramsOf(docs(s, d)))

  private val DecontaminateSql = {
    val b = s"${graft.ops.Hashing.h32Sql("CAST(doc_id AS VARCHAR)")} % 100"
    "WITH toks AS (SELECT doc_id, " +
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' ELSE 'test' END AS split, " +
      "string_split(text, ' ') AS tk FROM documents), " +
      "g AS (SELECT doc_id, split, unnest(generate_series(1, len(tk) - 4)) AS pos, " +
      "unnest(list_transform(generate_series(1, len(tk) - 4), " +
      "i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g5 " +
      "FROM toks WHERE len(tk) >= 5), " +
      "traing AS (SELECT DISTINCT g5 FROM g WHERE split = 'train'), " +
      "iv AS (SELECT doc_id, split, pos, pos + 4 AS pend FROM g JOIN traing USING (g5) " +
      "WHERE split <> 'train'), " +
      "mk AS (SELECT doc_id, split, pos, pend, " +
      "max(pend) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end FROM iv), " +
      "isl AS (SELECT doc_id, split, pos, pend, " +
      "sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM mk) " +
      "SELECT doc_id, split, CAST(min(pos) AS BIGINT) AS span_start, " +
      "CAST(max(pend) AS BIGINT) AS span_end, " +
      "CAST(max(pend) - min(pos) + 1 AS BIGINT) AS span_tokens " +
      "FROM isl GROUP BY doc_id, split, island ORDER BY doc_id, span_start"
  }

  /** q_text_keyterms — characteristic term per document by an integer-exact
    * tf-idf ranking: (tf DESC, df ASC, term) — highest in-doc frequency,
    * corpus rarity as the tiebreak. The classic tf·log(N/df) score is
    * deliberately not materialized: log is not bit-stable across libms
    * (graft.X rationale), and for a per-doc argmax the lexicographic rank
    * preserves the decision without any float. Two shuffles (tf by
    * (doc,term), df by term) + a broadcast-joined window.
    */
  private def textKeyterms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = docs(s, d).select($"doc_id", explode(split($"text", " ")).as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"tf".desc, $"df".asc, $"term")
    tf.join(dfreq, "term")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"term", $"tf", $"df")
      .orderBy("doc_id")
  }

  private val KeytermsSql =
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
      "df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1) " +
      "SELECT doc_id, term, tf, df FROM (" +
      "SELECT tf.doc_id, tf.term, tf.tf, df.df, " +
      "row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn " +
      "FROM tf JOIN df USING (term)) WHERE rn = 1 ORDER BY doc_id"

  /** q_text_redact — PII scrubbing (emails, phone-like digit runs) via
    * regexp_replace: the redaction pass of a training-data pipeline.
    * Synthetic PII is appended per row so the rule demonstrably fires on
    * every document; patterns avoid backreferences/lookaround so Java
    * regex and RE2-family engines agree. Pure map-side.
    */
  private def textRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        concat(
          $"text",
          lit(" contact user"),
          $"doc_id",
          lit("@example.com or +1 415 555 01"),
          $"doc_id").as("raw"))
      .select(
        $"doc_id",
        regexp_replace(
          regexp_replace($"raw", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
          "\\+?[0-9][0-9 ()-]{6,}[0-9]",
          "<PHONE>").as("clean"))
      .orderBy("doc_id")
  }

  private val RedactSql =
    "SELECT doc_id, regexp_replace(regexp_replace(" +
      "text || ' contact user' || doc_id || '@example.com or +1 415 555 01' || doc_id, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), " +
      "'\\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS clean " +
      "FROM documents ORDER BY doc_id"

  /** q_text_clean — control-character and whitespace normalization, the
    * first pass of every corpus-cleaning recipe: strip ASCII control
    * characters to spaces, collapse whitespace runs, trim. Synthetic dirt
    * (tabs, CRLF, double spaces) is appended per row so the rules
    * demonstrably fire on every document; character classes are literal
    * so Java regex and RE2 agree. The cleaned text is pinned by md5 +
    * lengths rather than hauled to the output — the operator is pure
    * map-side, the sort is oracle-only.
    */
  private def textClean(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        concat($"text", lit("\tmess\r\n  end  ")).as("raw"))
      .select(
        $"doc_id",
        length($"raw").as("n_raw"),
        trim(
          regexp_replace(
            regexp_replace($"raw", "[\\t\\r\\n\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", " "),
            "  +",
            " ")).as("clean"))
      .select(
        $"doc_id",
        $"n_raw",
        length($"clean").as("n_clean"),
        md5($"clean").as("clean_md5"))
      .orderBy("doc_id")
  }

  private val CleanSql =
    "SELECT doc_id, n_raw, CAST(length(clean) AS BIGINT) AS n_clean, md5(clean) AS clean_md5 " +
      "FROM (SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw, " +
      "trim(regexp_replace(regexp_replace(raw, " +
      "'[\\t\\r\\n\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', ' ', 'g'), '  +', ' ', 'g')) AS clean " +
      "FROM (SELECT doc_id, text || chr(9) || 'mess' || chr(13) || chr(10) || '  end  ' AS raw " +
      "FROM documents)) ORDER BY doc_id"

  /** q_text_repetition — intra-document repetition filter, the
    * Gopher/C4-style corpus-quality signal the per-doc family lacked:
    * duplicate-bigram fraction (what share of adjacent pairs is a repeat)
    * and top-bigram fraction (how dominant the single most common pair
    * is), with the keep decision at both ≤ 0.08 — thresholds calibrated
    * to this corpus's p95 so the filter demonstrably discriminates (the
    * published Gopher cuts, e.g. top-2-gram 0.20, reject ~nothing on
    * synthetic text; the operator shape is the point, the constant is a
    * config). One fused map-side pass per row ([[graft.expr.BigramStats]]
    * — total/distinct/top multiplicity in a single walk, instead of an
    * explode + per-(doc, bigram) count shuffle that would move every
    * bigram of a 100 TB corpus); the only exchange is the output sort.
    * Fractions are single IEEE divisions of exact small integers —
    * bit-identical cross-engine (graft.X rules). Degenerate docs
    * (< 2 tokens, no bigrams) have null fractions and are rejected.
    */
  private def textRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        $"lang",
        graft.expr.BigramStats(split(coalesce($"text", lit("")), " ")).as("bs"))
      .select(
        $"doc_id",
        $"lang",
        element_at($"bs", 1).as("n_bigrams"),
        (element_at($"bs", 1) - element_at($"bs", 2)).as("n_dup_bigrams"),
        element_at($"bs", 3).as("top_bigram_n"))
      .withColumn(
        "dup_frac",
        when($"n_bigrams" > 0,
          $"n_dup_bigrams".cast("double") / $"n_bigrams".cast("double")))
      .withColumn(
        "top_frac",
        when($"n_bigrams" > 0,
          $"top_bigram_n".cast("double") / $"n_bigrams".cast("double")))
      .withColumn("keep", coalesce($"dup_frac" <= 0.08 && $"top_frac" <= 0.08, lit(false)))
      .orderBy("doc_id")
  }

  private val RepetitionSql =
    "WITH tk AS (SELECT doc_id, lang, string_split(coalesce(text, ''), ' ') AS tk " +
      "FROM documents), " +
      "bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1])) AS b FROM tk), " +
      "c AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2), " +
      "s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS tot, " +
      "CAST(count(*) AS BIGINT) AS dist, CAST(max(n) AS BIGINT) AS top " +
      "FROM c GROUP BY 1) " +
      "SELECT t.doc_id, t.lang, coalesce(s.tot, 0) AS n_bigrams, " +
      "coalesce(s.tot - s.dist, 0) AS n_dup_bigrams, " +
      "coalesce(s.top, 0) AS top_bigram_n, " +
      "CAST(s.tot - s.dist AS DOUBLE) / CAST(s.tot AS DOUBLE) AS dup_frac, " +
      "CAST(s.top AS DOUBLE) / CAST(s.tot AS DOUBLE) AS top_frac, " +
      "coalesce(CAST(s.tot - s.dist AS DOUBLE) / CAST(s.tot AS DOUBLE) <= 0.08 " +
      "AND CAST(s.top AS DOUBLE) / CAST(s.tot AS DOUBLE) <= 0.08, false) AS keep " +
      "FROM tk t LEFT JOIN s ON s.doc_id = t.doc_id ORDER BY t.doc_id"

  /** q_text_chunk — overlapping token-window chunking, the step between
    * curation and embedding in a retrieval/embedding pipeline: each doc
    * splits into fixed token windows advancing by a smaller stride (4-token
    * overlap so no semantic boundary is lost), the trailing window keeping
    * whatever remains. Window 32 / stride 28 here — sized to the testdata's
    * 20-100-token documents so the oracle exercises the multi-chunk overlap
    * path corpus-wide (a production embedding pipeline runs the same shape
    * at 512/448); the constants are config, not semantics. Pure per-row expansion — chunk starts come from an integer
    * `sequence` + `posexplode`, the window text from `slice` — so the op
    * is map-side with output-sort as its only exchange, and chunk
    * identity (doc_id, chunk_id, start) is deterministic at any
    * partitioning. Counting uses integer `div` in both engines (no float
    * ceil).
    */
  private val ChunkSize = 32
  private val ChunkStride = 28

  private def textChunk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", split(coalesce($"text", lit("")), " ").as("tk"))
      .withColumn(
        "n_chunks",
        when(size($"tk") <= ChunkSize, lit(1))
          .otherwise(
            expr(s"(size(tk) - $ChunkSize + ${ChunkStride - 1}) div $ChunkStride") + 1))
      .select(
        $"doc_id",
        $"tk",
        posexplode(sequence(lit(0), $"n_chunks".cast("int") - 1))
          .as(Seq("chunk_id", "start0")))
      .select(
        $"doc_id",
        $"chunk_id",
        ($"start0" * ChunkStride).as("start"),
        slice($"tk", $"start0" * ChunkStride + 1, lit(ChunkSize)).as("ck"))
      .select(
        $"doc_id",
        $"chunk_id",
        $"start",
        size($"ck").as("n_tokens"),
        array_join($"ck", " ").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  private val ChunkSql =
    "WITH tk AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk " +
      "FROM documents), " +
      "c AS (SELECT doc_id, tk, CASE WHEN len(tk) <= 32 THEN 1 " +
      "ELSE (len(tk) - 32 + 27) // 28 + 1 END AS n_chunks FROM tk), " +
      "e AS (SELECT doc_id, tk, unnest(generate_series(0, n_chunks - 1)) AS chunk_id " +
      "FROM c) " +
      "SELECT doc_id, chunk_id, chunk_id * 28 AS start, " +
      "CAST(len(list_slice(tk, chunk_id * 28 + 1, " +
      "LEAST(chunk_id * 28 + 32, len(tk)))) AS INTEGER) AS n_tokens, " +
      "array_to_string(list_slice(tk, chunk_id * 28 + 1, " +
      "LEAST(chunk_id * 28 + 32, len(tk))), ' ') AS chunk " +
      "FROM e ORDER BY doc_id, chunk_id"

  /** Postings kept per token in the sampled index. */
  private val PostingsCap = 20

  /** q_index_inverted — inverted-index build (token → exact document
    * frequency + the first [[PostingsCap]] doc_ids): the retrieval-side
    * complement of the similarity family. ONE sort-based window pass does
    * everything: `count over (partition token)` is the exact df,
    * `row_number over (partition token order doc_id)` selects the
    * lexicographically-first postings SAMPLE, and only those ≤ cap rows
    * reach the collect. That shape is deliberate for 100 TB: a naive
    * `collect_list(doc_id)` holds a stop-word's entire posting list
    * (millions of ids) in one aggregation buffer, while a window sort
    * spills to disk and the per-group state after the filter is ≤ cap
    * rows — bounded memory no matter how skewed the token distribution.
    * Postings render as a comma-joined string, identical cross-engine.
    */
  private def indexInverted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"token")
    val tok = docs(s, d)
      .select(
        $"doc_id",
        explode(array_distinct(split(lower($"text"), " "))).as("token"))
      .filter($"token".rlike("^[a-z0-9]{3,}$"))
    tok
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy($"doc_id")))
      .filter($"rn" <= PostingsCap)
      .groupBy($"token")
      .agg(
        max($"df").as("df"),
        array_join(sort_array(collect_list($"doc_id")), ",").as("postings"))
      .orderBy($"token")
  }

  private val InvertedSql =
    "WITH tok AS (SELECT DISTINCT doc_id, " +
      "unnest(list_distinct(string_split(lower(text), ' '))) AS token FROM documents), " +
      "ft AS (SELECT doc_id, token FROM tok WHERE regexp_full_match(token, '[a-z0-9]{3,}')), " +
      "r AS (SELECT doc_id, token, CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df, " +
      "row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM ft) " +
      s"SELECT token, max(df) AS df, " +
      "array_to_string(list_sort(list(doc_id)), ',') AS postings " +
      s"FROM r WHERE rn <= $PostingsCap GROUP BY token ORDER BY token"

  /** The fixed phrase benchmark set: common-common adjacencies (plenty of
    * hits), a missing-term phrase (must yield no rows, not nulls), and a
    * shared-term pair (exercises per-query isolation of the postings).
    */
  private[graft] val PhraseQueries: Seq[(Int, String, String)] = Seq(
    (1, "hash", "join"),
    (2, "table", "scan"),
    (3, "fast", "merge"),
    (4, "slow", "zzzmissing"),
    (5, "table", "table"))

  /** Phrase matching over POSITIONAL postings for an arbitrary doc frame:
    * occurrences of "t1 t2" as ADJACENT tokens of the raw lowercase
    * sequence (adjacency is a property of the unfiltered sequence — a
    * token filter would create false adjacencies across dropped tokens).
    * Per query, docs rank by (occurrence count desc, doc_id), top 10,
    * zero-hit docs absent.
    *
    * Scale shape: the positional postings are restricted to the query
    * TERMS up front (broadcast semi of a ≤2·|queries| term frame), so at
    * 100 TB only matching postings ever shuffle; the phrase step is then
    * one equi-join of two slim (query_id, doc_id, pos) frames on
    * (query, doc, pos+1 = pos) — an all-equi key, AQE-skew-splittable —
    * and the cut is a per-query rank window over ≤ |matched docs| rows.
    */
  private[graft] def phraseHits(
      docsDf: DataFrame,
      phrases: Seq[(Int, String, String)]): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    phraseHitsFromToks(
      docsDf.select(
        $"doc_id",
        posexplode(split(lower($"text"), " ")).as(Seq("pos", "term"))),
      phrases)
  }

  /** The adjacency join + rank cut of [[phraseHits]] over an arbitrary
    * (doc_id, pos, term) occurrence frame — shared by the in-session
    * query (which explodes the corpus) and the persisted-index serve
    * (which scans only the probed shards' occurrence rows).
    */
  private[graft] def phraseHitsFromToks(
      toks: DataFrame,
      phrases: Seq[(Int, String, String)]): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    val qterms = phrases.flatMap(p => Seq(p._2, p._3)).distinct.toDF("term")
    val hits = toks.join(broadcast(qterms), Seq("term"))
    val q = phrases.toDF("query_id", "t1", "t2")
    val first = hits
      .join(broadcast(q), $"term" === $"t1")
      .select($"query_id", $"doc_id", ($"pos" + 1).as("nxt"))
    val second = hits
      .join(broadcast(q.select($"query_id", $"t2")), $"term" === $"t2")
      .select($"query_id", $"doc_id", $"pos".as("nxt"))
    val w = Window.partitionBy($"query_id").orderBy($"n_hits".desc, $"doc_id")
    first
      .join(second, Seq("query_id", "doc_id", "nxt"))
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"doc_id", $"n_hits")
      .orderBy($"query_id", $"rank")
  }

  private def indexPhrase(s: SparkSession, d: String): DataFrame =
    phraseHits(docs(s, d), PhraseQueries)

  /** Write one GENERATION of the POSITIONAL postings index from an
    * arbitrary doc frame: one (term, doc_id, pos) row per token
    * OCCURRENCE of the raw lowercase sequence — the Lucene-style
    * positional tier, where q_index_inverted's postings carry only
    * membership — term-sharded with the same hash as the BM25 index so
    * a phrase serve prunes its scan to the query terms' shards.
    */
  private[graft] def writePhraseIndexFrom(
      s: SparkSession, docsDf: DataFrame, path: String): Unit = {
    import s.implicits._
    docsDf
      .select(
        $"doc_id",
        posexplode(split(lower($"text"), " ")).as(Seq("pos", "term")))
      .select(
        $"term", $"doc_id", $"pos",
        pmod(hash($"term"), lit(Bm25Shards)).as("tshard"))
      // own each shard directory's files (writeCorpusShards rule)
      .repartition($"tshard")
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("tshard")
      .parquet(s"$path/postings")
  }

  /** Dataset-keyed canonical positional-postings build — build-once-
    * serve-many ([[graft.index.GenLog.buildOnce]]).
    */
  private[graft] def writePhraseIndex(s: SparkSession, d: String): String = {
    val path = SimilarityOps.serveRoot(s, d) + "/phrase"
    graft.index.GenLog.buildOnce(s, path) {
      writePhraseIndexFrom(s, docs(s, d), path)
    }
    path
  }

  /** The shard ids a phrase set's terms probe — the literal partition
    * filter every phrase serve pushes (bounded by 2·|phrases| values).
    */
  private[graft] def phraseProbedShards(
      s: SparkSession, phrases: Seq[(Int, String, String)]): Seq[Any] = {
    import s.implicits._
    phrases.flatMap(p => Seq(p._2, p._3)).distinct.toDF("term")
      .select(pmod(hash($"term"), lit(Bm25Shards)))
      .distinct().collect().map(_.get(0)).toSeq
  }

  /** Serve an ARBITRARY phrase set from persisted positional-postings
    * generations (merge-on-read: generations' doc sets are disjoint by
    * the ingest contract, so occurrence rows union cleanly): the phrase
    * terms' shard ids become the literal partition filter on every
    * generation's scan — at 100 TB only the probed shards' files are
    * ever read — then the identical adjacency join + rank cut as the
    * in-session q_index_phrase.
    */
  private[graft] def servePhrase(
      s: SparkSession,
      paths: Seq[String],
      phrases: Seq[(Int, String, String)]): DataFrame = {
    import s.implicits._
    val shards = phraseProbedShards(s, phrases)
    val toks = paths
      .map(p => T.parquet(s, s"$p/postings").filter($"tshard".isin(shards: _*)))
      .reduce(_ unionByName _)
      .select($"doc_id", $"pos", $"term")
    phraseHitsFromToks(toks, phrases)
  }

  /** q_index_phrase_served — the phrase benchmark answered from the
    * PERSISTED positional index instead of an in-session corpus explode:
    * build once per dataset, then every serve reads only the probed
    * shards. Oracle is the full-corpus [[PhraseSql]], so the hash gate
    * re-proves serve-from-index ≡ in-session every round.
    */
  private def indexPhraseServed(s: SparkSession, d: String): DataFrame =
    servePhrase(s, Seq(writePhraseIndex(s, d)), PhraseQueries)

  /** Build/serve decomposition of q_index_phrase_served for the bench's
    * split timings ([[bm25Split]] rationale).
    */
  private[graft] def phraseSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val path = SimilarityOps.serveRoot(s, d) + "/phrase"
    (() => { writePhraseIndex(s, d); () },
      () => servePhrase(s, Seq(path), PhraseQueries))
  }

  /** q_index_phrase_incr — INCREMENTAL positional maintenance, the
    * phrase sibling of [[indexBm25Incr]]: the newest 10% of doc ids
    * (monotone-ingest contract) write their OWN occurrence generation —
    * O(batch) build work, the base generation's files never rewritten or
    * re-read — and serving merges generations on read (occurrence rows
    * over disjoint doc sets union cleanly; adjacency is within-document).
    * The oracle is the FULL-corpus [[PhraseSql]], so the hash gate
    * re-proves merge-on-read ≡ a single rebuilt positional index every
    * round.
    */
  private def indexPhraseIncr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = SimilarityOps.serveRoot(s, d) + "/phraseincr"
    graft.index.GenLog.buildOnce(s, root) {
      val all = docs(s, d)
      val thrDf = all.agg(expr("(max(doc_id) * 9) div 10").as("thr"))
      val withThr = all.crossJoin(broadcast(thrDf))
      writePhraseIndexFrom(
        s, withThr.filter($"doc_id" <= $"thr").drop("thr"), s"$root/base")
      writePhraseIndexFrom(
        s, withThr.filter($"doc_id" > $"thr").drop("thr"), s"$root/inc")
    }
    servePhrase(s, Seq(s"$root/base", s"$root/inc"), PhraseQueries)
  }

  /** [[phraseSplit]] for q_index_phrase_incr: build writes both
    * generations; serve is the merge-on-read phrase cut.
    */
  private[graft] def phraseIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val root = SimilarityOps.serveRoot(s, d) + "/phraseincr"
    (() => { indexPhraseIncr(s, d); () },
      () => servePhrase(s, Seq(s"$root/base", s"$root/inc"), PhraseQueries))
  }

  private val PhraseSql = {
    val vals = PhraseQueries
      .map { case (id, t1, t2) => s"($id, '$t1', '$t2')" }
      .mkString(", ")
    "WITH tok AS (SELECT doc_id, " +
      "unnest(string_split(lower(text), ' ')) AS term, " +
      "generate_subscripts(string_split(lower(text), ' '), 1) AS pos " +
      "FROM documents), " +
      s"q(query_id, t1, t2) AS (SELECT * FROM (VALUES $vals)), " +
      "a AS (SELECT q.query_id, t.doc_id, t.pos + 1 AS nxt FROM tok t JOIN q ON t.term = q.t1), " +
      "b AS (SELECT q.query_id, t.doc_id, t.pos AS nxt FROM tok t JOIN q ON t.term = q.t2), " +
      "m AS (SELECT a.query_id, a.doc_id, CAST(count(*) AS BIGINT) AS n_hits " +
      "FROM a JOIN b ON b.query_id = a.query_id AND b.doc_id = a.doc_id AND b.nxt = a.nxt " +
      "GROUP BY a.query_id, a.doc_id), " +
      "r AS (SELECT query_id, doc_id, n_hits, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY n_hits DESC, doc_id) AS rn FROM m) " +
      "SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, n_hits " +
      "FROM r WHERE rn <= 10 ORDER BY query_id, rank"
  }

  // ---- lexical retrieval: BM25 over the inverted-index family ---------

  /** The fixed multi-term benchmark query set: common-term conjunctions,
    * a rare+common mix ('dup' is the corpus's only low-df term), a
    * missing-term query (scoring must ignore it, not null out), and a
    * single rare term (exercises the score tie → doc_id tie-break).
    */
  private[graft] val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "vector", 1 -> "hash", 1 -> "join",
    2 -> "dup", 2 -> "spark",
    3 -> "customer", 3 -> "window", 3 -> "slow", 3 -> "fast",
    4 -> "merge", 4 -> "zzzmissing",
    5 -> "dup")

  private val Bm25TopK = 10

  /** Term-shard count for the served postings index. Sized so the fixed
    * query set prunes >80% of directories at test scale; production sizes
    * this to O(thousands) so a shard is one task's worth of postings.
    */
  private val Bm25Shards = 64

  /** BM25 scoring core over a (query_id, term, tf, dl, df, n, l) hit
    * frame — k1 = 1.2, b = 0.75, with Lucene-style rational idf
    * (N − df + ½)/(df + ½) instead of its log (house rule: no cross-libm
    * transcendentals; the surrogate is monotone in df so per-term
    * discrimination is preserved and the score stays exactly portable).
    * Clearing denominators gives one integer-exact ratio per term:
    *   score = 22·tf·L·(2N − 2df + 1) / [(2df + 1)·(10·tf·L + 3·L + 9·dl·N)]
    * computed in decimal(38,0) (exact to 38 digits — room for 100 TB
    * corpora where BIGINT products would wrap), ONE IEEE division, r6,
    * then an order-independent decimal(18,6) sum per (query, doc) — the
    * q_ts_anomaly ladder: exact integer moments, then IEEE ÷ and round.
    */
  private def bm25Score(hits: DataFrame): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val num = d38(lit(22) * col("tf")) * d38(col("l")) *
      d38(lit(2) * col("n") - lit(2) * col("df") + lit(1))
    val den = d38(lit(2) * col("df") + lit(1)) *
      (d38(lit(10) * col("tf")) * d38(col("l")) +
        d38(lit(3) * col("l")) + d38(lit(9) * col("dl")) * d38(col("n")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    hits
      .withColumn("sc", graft.X.r6(num.cast("double") / den.cast("double")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        sum(col("sc").cast("decimal(18,6)")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The corpus-side frames BM25 needs: per-(doc, query-term) tf, per-doc
    * token length, per-query-term df, and the one-row (N, L) stats frame.
    * tf/df are restricted to query terms up front (broadcast semi of an
    * 11-term frame), so at 100 TB only matching postings ever shuffle;
    * dl/stats are full-corpus single-pass aggregates.
    */
  // fused tokenizer (r18 opt): one codegen'd pass instead of
  // lower-whole-text + split + explode-all + per-token regex —
  // GramsKernelSpec pins token-stream equality with the composed chain
  private[graft] def bm25TokensOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), explode(graft.expr.Bm25Tokens(col("text"))).as("term"))

  private def bm25Tokens(s: SparkSession, d: String): DataFrame =
    bm25TokensOf(docs(s, d))

  private def bm25Frames(
      s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val qterms = Bm25Queries.map(_._2).distinct.toDF("term")
    // ONE tokenize pass (r18 opt): tf/dl/stats each consumed the raw
    // token stream, re-running the tokenizer per branch; the full-vocab
    // (doc, term, tf) frame carries everything — dl = Σtf per doc,
    // corpus length = Σtf — so it is materialized once (the same frame
    // writeBm25IndexFrom persists as the postings index) and the three
    // branches read the RDD.
    // r19 (verdict item 7) tried and REVERTED: dropping this checkpoint
    // in favor of AQE stage reuse across the three canonically-identical
    // aggregate subtrees measured WORSE (q_index_bm25 full 0.84→0.98 s,
    // taskSec 0.67→1.13, jobs 19→20 against a FASTER control window) —
    // unlike the lm_interp case, the reuse does not fire here (the
    // query-term semi-join branch diverges below the exchange), so the
    // tokenize ran per branch again. At cluster scale the equivalent
    // reliable seam is a spark.checkpoint.dir-backed checkpoint (config
    // swap at deploy), not removing the materialization.
    val tfAll = bm25Tokens(s, d)
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val tf = tfAll.join(broadcast(qterms), Seq("term"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val dl = tfAll.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val stats = tfAll
      .agg(sum($"tf").as("l"))
      .crossJoin(broadcast(docs(s, d).agg(count(lit(1)).as("n"))))
    (tf, dfreq, dl, stats)
  }

  /** q_index_bm25 — multi-term BM25 retrieval: the query a user of the
    * inverted index (q_index_inverted) actually asks. Each benchmark
    * query scores every doc containing ≥1 of its terms and keeps the
    * top-10 by (score DESC, doc_id). Shuffle budget: tf by (doc, term),
    * dl by doc, the score-sum by (query, doc), and a tiny per-query rank
    * window — everything else is broadcast. df arrives via a broadcast
    * join of the ≤|query terms| df rows.
    */
  private def indexBm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tf, dfreq, dl, stats) = bm25Frames(s, d)
    val q = Bm25Queries.toDF("query_id", "term")
    val hits = tf
      .join(broadcast(q), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
    bm25Score(hits)
  }

  /** q_index_bm25_served — q_index_bm25 answered from a PERSISTED
    * postings index, mirroring q_sim_served's build/serve split for the
    * lexical side. Build: (term, doc_id, tf, dl) postings — dl
    * denormalized in, so serving never joins the doc-length table —
    * hive-partitioned on tshard = pmod(hash(term), 64), plus a one-row
    * (N, L) stats parquet. Serve: the query terms' shard ids (≤ 11
    * values, collected like probe buckets — bounded model state) become a
    * LITERAL partition filter, so the scan lists only the probed
    * directories; scoring is identical. Same output and oracle as
    * q_index_bm25: persistence and pruning must not change a single hit.
    */
  private def indexBm25Served(s: SparkSession, d: String): DataFrame = {
    val path = writeBm25Index(s, d)
    serveBm25(s, path)
  }

  /** Write one GENERATION of the postings index from an arbitrary doc
    * frame: (term, doc_id, tf, dl) for the FULL vocabulary (an index
    * build is query-independent), term-sharded, plus that generation's
    * one-row (n_docs, token-count) stats.
    */
  private[graft] def writeBm25IndexFrom(
      s: SparkSession, docsDf: DataFrame, path: String): String = {
    import s.implicits._
    // one tokenize pass (r18 opt, the bm25Frames rule), reliably
    // materialized (r19, verdict item 7): the postings write is the ONE
    // action consuming the tf aggregate — its two branches (tf rows +
    // the dl rollup) share the canonically-identical (doc_id, term)
    // exchange, so the tokenize runs once via AQE stage reuse — and the
    // generation's stats derive from READING BACK the just-written
    // postings parquet (l = Σtf over durable files) instead of a
    // localCheckpoint that pinned the postings-scale frame in executor
    // memory with truncated lineage (unrecoverable on executor loss —
    // the r18 entry log's own WARNs).
    val tf = bm25TokensOf(docsDf)
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    tf.join(dl, Seq("doc_id"))
      .select(
        $"term", $"doc_id", $"tf", $"dl",
        pmod(hash($"term"), lit(Bm25Shards)).as("tshard"))
      // own each shard directory's files (writeCorpusShards rule)
      .repartition($"tshard")
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("tshard")
      .parquet(s"$path/postings")
    T.parquet(s, s"$path/postings")
      .agg(sum($"tf").as("l"))
      .crossJoin(broadcast(docsDf.agg(count(lit(1)).as("n"))))
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/stats")
    path
  }

  /** Dataset-keyed canonical postings build — build-once-serve-many
    * ([[graft.index.GenLog.buildOnce]]): every query over the same
    * dataset shares one physical postings index.
    */
  private[graft] def writeBm25Index(s: SparkSession, d: String): String = {
    val path = SimilarityOps.serveRoot(s, d) + "/bm25"
    graft.index.GenLog.buildOnce(s, path) {
      writeBm25IndexFrom(s, docs(s, d), path)
      ()
    }
    path
  }

  /** Serve the fixed query set from one or more index GENERATIONS
    * (merge-on-read): postings scans are each pruned to the probed
    * shards, generations union (doc sets are disjoint by the ingest
    * contract, so per-term df is the plain count over the union and
    * corpus stats are the element-wise sum) — answering from base +
    * increments must equal answering from a single rebuilt index.
    */
  private[graft] def serveBm25(s: SparkSession, paths: Seq[String]): DataFrame =
    serveBm25For(s, paths, queryFrame(s))

  /** Serve an ARBITRARY (query_id, term) frame from persisted postings
    * generations — the library serving API (the fixed [[Bm25Queries]]
    * set is just the oracle-checked benchmark instance): the query
    * terms' shard ids become the literal partition filter on every
    * generation's scan, per-term df is the plain count over the pruned
    * union (a term's postings live wholly in its shard), corpus stats
    * sum element-wise.
    */
  private[graft] def serveBm25For(
      s: SparkSession,
      paths: Seq[String],
      q: DataFrame): DataFrame = {
    import s.implicits._
    val shards = bm25ProbedShardsOf(q)
    val postings = paths
      .map(p => T.parquet(s, s"$p/postings").filter($"tshard".isin(shards: _*)))
      .reduce(_ unionByName _)
    val dfreq = postings.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = paths
      .map(p => T.parquet(s, s"$p/stats"))
      .reduce(_ unionByName _)
      .agg(sum($"l").as("l"), sum($"n").as("n"))
    val hits = postings
      .join(broadcast(q), Seq("term"))
      .join(broadcast(dfreq.join(broadcast(q.select($"term").distinct()), Seq("term"))), Seq("term"))
      .crossJoin(broadcast(stats))
    bm25Score(hits)
  }

  private[graft] def serveBm25(s: SparkSession, path: String): DataFrame =
    serveBm25(s, Seq(path))

  /** q_index_bm25_incr — INCREMENTAL postings maintenance: the newest 10%
    * of doc ids (monotone-ingest contract) are today's batch; the base
    * generation stands in for yesterday's persisted index. The batch
    * writes its OWN generation — O(batch) build work; the base
    * generation's files are never rewritten or re-read — and serving
    * merges generations on read ([[serveBm25]]'s union: disjoint doc
    * sets make df a plain count and (N, L) an element-wise sum). The
    * oracle is the FULL-corpus BM25, so the hash gate re-proves
    * merge-on-read ≡ single rebuilt index every round — the lexical
    * sibling of q_dedup_incr's delta ≡ rebuild theorem.
    */
  private def indexBm25Incr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = SimilarityOps.serveRoot(s, d) + "/bm25incr"
    graft.index.GenLog.buildOnce(s, root) {
      val all = docs(s, d)
      val thrDf = all.agg(expr("(max(doc_id) * 9) div 10").as("thr"))
      val withThr = all.crossJoin(broadcast(thrDf))
      writeBm25IndexFrom(
        s, withThr.filter($"doc_id" <= $"thr").drop("thr"), s"$root/base")
      writeBm25IndexFrom(
        s, withThr.filter($"doc_id" > $"thr").drop("thr"), s"$root/inc")
      ()
    }
    serveBm25(s, Seq(s"$root/base", s"$root/inc"))
  }

  /** Build/serve decomposition of q_index_bm25_served for the bench's
    * split timings (SimilarityOps.simServedSplit rationale).
    */
  private[graft] def bm25Split(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val path = SimilarityOps.serveRoot(s, d) + "/bm25"
    (() => { writeBm25Index(s, d); () }, () => serveBm25(s, path))
  }

  /** [[bm25Split]] for q_index_bm25_incr: build writes both generations;
    * serve is the multi-generation merge-on-read — the retrieval-latency
    * figure including the merge overhead a compaction would remove.
    */
  private[graft] def bm25IncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val root = SimilarityOps.serveRoot(s, d) + "/bm25incr"
    val build = () => {
      graft.index.GenLog.buildOnce(s, root) {
        val all = docs(s, d)
        val thrDf = all.agg(expr("(max(doc_id) * 9) div 10").as("thr"))
        val withThr = all.crossJoin(broadcast(thrDf))
        writeBm25IndexFrom(
          s, withThr.filter($"doc_id" <= $"thr").drop("thr"), s"$root/base")
        writeBm25IndexFrom(
          s, withThr.filter($"doc_id" > $"thr").drop("thr"), s"$root/inc")
        ()
      }
      ()
    }
    (build, () => serveBm25(s, Seq(s"$root/base", s"$root/inc")))
  }

  /** q_retrieval_rrf — hybrid retrieval: reciprocal-rank fusion (k = 60)
    * of the lexical BM25 ranking with a semantic vector leg seeded by
    * pseudo-relevance feedback. The lexical leg is q_index_bm25's top-10;
    * the semantic leg takes each query's best-ranked lexical hit that HAS
    * an embedding as the feedback vector (a pure lookup — no float
    * averaging, so the seed is exactly portable) and ranks the corpus by
    * cosine through the same Hamming-1 multi-probe sign-bucket pruning as
    * q_sim_batch; the fusion is sum over legs of r6(1/(60 + rank)) as an
    * order-independent decimal(18,6) sum, top-10 by (rrf DESC, doc_id).
    * Scale shape: the lexical leg is the audited BM25 plan; the
    * embedding scan is bucket-pruned against a broadcast ≤ 9·|queries|
    * probe frame (never an all-pairs cosine); the fusion join moves
    * ≤ 10 rows per query per leg. The RRF contributions are reciprocals
    * of small integers — rational, no transcendentals, same r6 ladder as
    * every cross-engine score.
    */
  private def retrievalRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the lexical leg collects ONCE to a LocalRelation (r19 opt, the
    // serveRrfMulti precedent): it is ≤ topK·|queries| bounded rows, and
    // lazy it executed its scoring plan twice — once broadcast under the
    // seed join, once as the fusion's union input (a broadcast exchange
    // and a plain subtree never share execution)
    val lexDist = indexBm25(s, d)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val lex = s.createDataFrame(
      java.util.Arrays.asList(lexDist.collect(): _*),
      lexDist.schema)
    val e = T(s, d, "embeddings").select(
      $"vec_id",
      $"embedding",
      Vec.norm2($"embedding").as("n2"),
      SimilarityOps.bucketCol.as("bucket"))
    val sw = Window.partitionBy($"query_id").orderBy($"lex_rank")
    val seed = e
      .join(broadcast(lex), e("vec_id") === lex("doc_id"))
      .withColumn("sr", row_number().over(sw))
      .filter($"sr" === 1)
      .select(
        $"query_id",
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(
          array(
            $"bucket" +:
              (0 until SimilarityOps.SignBits)
                .map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
    val cw = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    val sem = e
      .join(broadcast(seed), $"bucket" === $"pbucket")
      .select(
        $"query_id",
        $"vec_id",
        graft.X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("sem_rank", row_number().over(cw).cast("long"))
      .filter($"sem_rank" <= RrfTopK)
      .select($"query_id", $"vec_id".as("doc_id"), $"sem_rank")
    rrfFuse(s, lex, sem)
  }

  /** Reciprocal-rank fusion of a (query_id, doc_id, lex_rank) and a
    * (query_id, doc_id, sem_rank) leg: union + ONE hash aggregation on
    * (query, doc) — the full-outer join formulation cannot broadcast
    * (Spark falls back to a sort-merge join), while this shape is a
    * single tiny shuffle of ≤ topK rows per query per leg with no sort.
    */
  private def rrfFuse(s: SparkSession, lex: DataFrame, sem: DataFrame): DataFrame = {
    import s.implicits._
    val fw = Window.partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id")
    lex
      .select($"query_id", $"doc_id", $"lex_rank".as("r"), lit("lex").as("leg"))
      .unionByName(
        sem.select($"query_id", $"doc_id", $"sem_rank".as("r"), lit("sem").as("leg")))
      .groupBy($"query_id", $"doc_id")
      .agg(
        max(when($"leg" === "lex", $"r")).as("lex_rank"),
        max(when($"leg" === "sem", $"r")).as("sem_rank"),
        sum(graft.X.r6(lit(1.0) / (lit(60) + $"r")).cast("decimal(18,6)"))
          .cast("double")
          .as("rrf"))
      .withColumn("rank", row_number().over(fw).cast("long"))
      .filter($"rank" <= RrfTopK)
      .select($"query_id", $"rank", $"doc_id", $"rrf", $"lex_rank", $"sem_rank")
      .orderBy($"query_id", $"rank")
  }

  private val RrfTopK = 10


  /** q_retrieval_rrf_served — q_retrieval_rrf answered ENTIRELY from
    * persisted indexes: the full serving-tier architecture in one query.
    * Build writes three artifacts — the term-sharded postings index
    * ([[writeBm25Index]]), the bucket-partitioned ANN index
    * ([[SimilarityOps.writeAnnIndex]]), and the id-sharded embedding
    * store ([[SimilarityOps.writeEmbStore]]) — and serve composes three
    * pruned reads: lexical leg from the probed term shards, feedback-seed
    * vectors fetched by id from the probed ishard directories (the
    * candidate doc ids and their shard ids are bounded model state, the
    * probe-bucket-collect precedent), and the cosine leg from the probed
    * bucket directories. Same output contract and oracle as
    * q_retrieval_rrf: persistence and pruning must not change a hit.
    */
  private def retrievalRrfServed(s: SparkSession, d: String): DataFrame = {
    val root = SimilarityOps.serveRoot(s, d)
    // the three serving artifacts are CANONICAL, dataset-keyed builds
    // shared with q_index_bm25_served / q_sim_served (same params, same
    // corpus — one physical index each, built once per warehouse root)
    val bm25Path = writeBm25Index(s, d)
    SimilarityOps.writeAnnIndex(s, d, s"$root/ann")
    SimilarityOps.writeEmbStore(s, d, s"$root/embstore")
    serveRrf(s, bm25Path, s"$root/ann", s"$root/embstore")
  }

  private[graft] def serveRrf(
      s: SparkSession,
      bm25Path: String,
      annPath: String,
      storePath: String): DataFrame =
    serveRrfMulti(s, Seq(bm25Path), Seq(annPath), Seq(storePath))

  /** [[serveRrf]] over index GENERATIONS merged on read — each leg unions
    * its generation roots with the SAME pruning as the single-root serve
    * (probed term shards, probed ishards, probed buckets pushed into
    * every generation's scan independently; doc/vector ids are disjoint
    * across generations under the monotone-ingest contract, so the
    * unions are exact). This is the serving form the CONTINUOUS hybrid
    * tier uses ([[StreamOps.serveRrfContinuous]]): answering from base +
    * streamed increments must equal answering from monolithic rebuilds.
    */
  /** The feedback-seed frame of the served RRF tier: each query's
    * best-ranked lexical hit that HAS a stored embedding, exploded to its
    * Hamming-1 probe buckets. `lex` must be driver-local (a collected
    * LocalRelation) so the only distributed work here is the embedding
    * store fetch — pruned to the candidate ids' shards by a LITERAL
    * ishard partition filter (ServeIndexSpec pins that filter on THIS
    * frame's plan: it is the plan the serve executes for its one store
    * read).
    */
  private[graft] def rrfSeedFrame(
      s: SparkSession,
      storePaths: Seq[String],
      lex: DataFrame): DataFrame = {
    import s.implicits._
    // the ≤ topK·|queries| candidate ids' shards — bounded model state
    val lexShards = lex
      .select(pmod(hash($"doc_id"), lit(64)))
      .distinct()
      .collect()
      .map(_.get(0))
      .toSeq
    val store = storePaths
      .map(p => T.parquet(s, p))
      .reduce(_ unionByName _)
      .filter($"ishard".isin(lexShards: _*))
    val sw = Window.partitionBy($"query_id").orderBy($"lex_rank")
    store
      .join(broadcast(lex), store("vec_id") === lex("doc_id"))
      .withColumn("sr", row_number().over(sw))
      .filter($"sr" === 1)
      .select(
        $"query_id",
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(
          array(
            $"bucket" +:
              (0 until SimilarityOps.SignBits)
                .map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
  }

  private[graft] def serveRrfMulti(
      s: SparkSession,
      bm25Paths: Seq[String],
      annPaths: Seq[String],
      storePaths: Seq[String]): DataFrame = {
    import s.implicits._
    // The lexical leg is ≤ topK·|queries| rows but its lineage is the full
    // pruned-postings scoring plan, and serve references it four times
    // (two bounded-state collects, the seed join, the fusion): COLLECT it
    // once to a LocalRelation (bounded model state, the probe-bucket
    // precedent) so the postings are read and scored exactly once per
    // serve and every downstream reference — the shard probe, the seed
    // join's broadcast, the fusion — reads driver-local rows instead of
    // re-running (or even re-fetching) a checkpointed partition.
    val lexDist = serveBm25(s, bm25Paths)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val lex = s.createDataFrame(
      java.util.Arrays.asList(lexDist.collect(): _*),
      lexDist.schema)
    // The SEED is equally bounded — ≤ (1 + SignBits)·|queries| rows of
    // (query_id, feedback vector, probe bucket) — so it too collects ONCE
    // to a LocalRelation (r19 opt): the lazy form executed the ishard-
    // pruned store scan + seed window TWICE per serve (once for the
    // probe-bucket collect, once inside the final plan's broadcast). The
    // pruned store scan now runs exactly once, inside [[rrfSeedFrame]],
    // where ServeIndexSpec asserts the literal ishard partition filter
    // on the plan that actually executes.
    val seedDist = rrfSeedFrame(s, storePaths, lex)
    val seed = s.createDataFrame(
      java.util.Arrays.asList(seedDist.collect(): _*),
      seedDist.schema)
    // LocalRelation plan: distinct folds driver-side, no Spark job
    val probeBuckets =
      seed.select($"pbucket").distinct().collect().map(_.get(0)).toSeq
    val cw = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    val sem = annPaths
      .map(p => T.parquet(s, p))
      .reduce(_ unionByName _)
      .filter($"bucket".isin(probeBuckets: _*))
      .join(broadcast(seed), $"bucket" === $"pbucket")
      .select(
        $"query_id",
        $"vec_id",
        graft.X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("sem_rank", row_number().over(cw).cast("long"))
      .filter($"sem_rank" <= RrfTopK)
      .select($"query_id", $"vec_id".as("doc_id"), $"sem_rank")
    rrfFuse(s, lex, sem)
  }

  /** Build/serve decomposition of q_retrieval_rrf_served for the bench's
    * split timings ([[bm25Split]] rationale): build writes all three
    * serving artifacts, serve is the three-pruned-read fusion.
    */
  private[graft] def rrfServedSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val root = SimilarityOps.serveRoot(s, d)
    val bm25Path = s"$root/bm25"
    val build = () => {
      // canonical shared artifacts: when the bm25/ann indexes were
      // already committed by the sibling served splits, this build is
      // store-only — the build-once contract the index catalog exists for
      writeBm25Index(s, d)
      SimilarityOps.writeAnnIndex(s, d, s"$root/ann")
      SimilarityOps.writeEmbStore(s, d, s"$root/embstore")
      ()
    }
    (build, () => serveRrf(s, bm25Path, s"$root/ann", s"$root/embstore"))
  }

  /** q_bpe_pairs — the first merge round of BPE tokenizer training:
    * adjacent symbol-pair counts over the corpus, computed the only way a
    * 100 TB tokenizer build can afford — corpus → word histogram (ONE
    * word-count shuffle with map-side partial aggregation), then
    * character pairs explode off the DISTINCT-word frame, which is
    * vocabulary-sized (orders of magnitude smaller than the corpus), each
    * pair weighted by its word's count. All-integer: exact and portable.
    * Top-20 by (count DESC, pair) — in a real training loop the argmax
    * pair becomes the merge and the histogram updates in place;
    * one round is the oracle-checkable unit.
    */
  private def bpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = bm25TokensOf(docs(s, d))
      .groupBy($"term")
      .agg(count(lit(1)).as("wc"))
    w.select(
        explode(
          transform(
            sequence(lit(1), length($"term") - 1),
            i => $"term".substr(i, lit(2)))).as("pair"),
        $"wc")
      .groupBy($"pair")
      .agg(sum($"wc").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  private val BpePairsSql =
    "WITH w AS (SELECT term, CAST(count(*) AS BIGINT) AS wc " +
      "FROM (SELECT unnest(string_split(lower(text),' ')) AS term FROM documents) " +
      "WHERE regexp_full_match(term,'[a-z0-9]{3,}') GROUP BY term), " +
      "pairs AS (SELECT unnest(list_transform(generate_series(1, length(term)-1), " +
      "i -> substr(term, CAST(i AS INTEGER), 2))) AS pair, wc FROM w) " +
      "SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM pairs " +
      "GROUP BY pair ORDER BY n DESC, pair LIMIT 20"

  /** Number of merge rounds `q_bpe_train` runs. Four is enough to force
    * multi-char tokens into later rounds (round 2+ must merge pairs whose
    * sides are themselves merges) while keeping the oracle SQL finite.
    */
  private[graft] val BpeRounds = 4

  /** One greedy left-to-right merge pass over a space-joined token string:
    * fold tokens into a string accumulator; when the accumulator's last
    * token is `pa` and the incoming token is `pb`, replace the tail with
    * the merged symbol. Tokens never contain spaces, so the `" "+pa`
    * suffix test identifies the last token exactly, and a just-merged
    * tail (`pa+pb`) can't re-merge in the same pass — the standard
    * non-overlapping BPE apply. Written with `aggregate`/`list_reduce`
    * so Spark and DuckDB run the IDENTICAL fold.
    */
  private[graft] def bpeMergeFold(w: Column, pa: Column, pb: Column): Column =
    aggregate(
      split(w, " "),
      lit(""),
      (acc, x) =>
        when(
          x === pb && (acc === pa || acc.endsWith(concat(lit(" "), pa))),
          concat(acc.substr(lit(1), length(acc) - length(pa)), pa, pb))
          .otherwise(
            when(acc === "", x).otherwise(concat(acc, lit(" "), x))))

  /** Adjacent token pairs of a space-joined token string, each rendered
    * as `"left right"` (the merge-table key format).
    */
  private[graft] def bpePairsOf(w: Column): Column = {
    val tl = split(w, " ")
    // guard: Spark's sequence(1, n) DESCENDS for n < 1, so a fully-merged
    // single-token word would otherwise index past the array
    when(
      size(tl) >= 2,
      transform(
        sequence(lit(1), size(tl) - 1),
        i => concat(element_at(tl, i), lit(" "), element_at(tl, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** q_bpe_train — BPE tokenizer training, [[BpeRounds]] greedy merge
    * rounds (the iterated form of `q_bpe_pairs`): per round, count
    * adjacent token pairs over the vocabulary weighted by word count,
    * take the argmax pair (count DESC, pair ASC — the deterministic
    * tie-break), and apply it as a non-overlapping left-to-right merge to
    * every word's tokenization. Output is the merge TABLE — (round, pair,
    * merged, n) — the artifact a tokenizer build actually ships. The
    * corpus is touched ONCE (the word-histogram shuffle); every round
    * after that runs on the vocabulary-sized distinct-word frame, with
    * the argmax attached as a one-row broadcast — the only loop structure
    * a 100 TB tokenizer build can afford. All arithmetic is integer and
    * the merge fold is engine-portable, so the oracle re-proves every
    * round's argmax AND the merged tokenizations behind it.
    */
  /** The shared training loop behind `q_bpe_train` and `q_bpe_encode`:
    * runs [[BpeRounds]] greedy merge rounds over the word histogram and
    * returns both the merge table and the final per-term tokenization
    * (the trained VOCAB — what the encode step applies to the corpus).
    *
    * One corpus pass total: the histogram is vocabulary-sized, so the
    * training state lives as a lineage-severed frame (localCheckpoint —
    * the MLlib iterative-training pattern). Without the sever, round r's
    * lazy lineage re-derives every earlier round INCLUDING the corpus
    * scan: the naive formulation planned 15 parquet scans for 4 rounds.
    */
  private[graft] def trainBpe(
      s: SparkSession,
      d: String,
      rounds: Int = BpeRounds,
      onRound: (Int, Double) => Unit = (_, _) => ())
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val hist = bm25TokensOf(docs(s, d))
      .groupBy($"term")
      .agg(count(lit(1)).as("wc"))
    // Checkpoint swap: a production build runs HUNDREDS of rounds, so the
    // previous round's materialized state must be released once the new
    // one lands — otherwise the build holds O(rounds) vocabulary copies in
    // executor storage. Safe to unpersist eagerly: the new checkpoint is
    // materialized (localCheckpoint is eager) before the old one is
    // dropped, and nothing else references a superseded round. The RDD to
    // release is read off the checkpointed plan itself (LogicalRDD), not
    // a getPersistentRDDs diff, so concurrent persists elsewhere in the
    // session can never be misattributed and unpersisted.
    var liveCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    def ckptSwap(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint()
      val mine = out.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      liveCkpt.foreach(_.unpersist(blocking = false))
      liveCkpt = mine
      out
    }
    var vocab = ckptSwap(
      hist
        .select(
          $"term",
          // initial tokenization: space-joined single characters
          // (substr-based: identical semantics in both engines)
          concat_ws(
            " ",
            transform(
              sequence(lit(1), length($"term")),
              i => $"term".substr(i, lit(1)))).as("w"),
          $"wc"))
    val merges = (1 to rounds).iterator
      .map { r =>
        val t0 = System.nanoTime()
        // the round's argmax pair is the model update: ONE row of bounded
        // driver state (the codebook-collect precedent), applied back as
        // literals — no join in the merge pass at all
        val tops = vocab
          .select(explode(bpePairsOf($"w")).as("pair"), $"wc")
          .groupBy($"pair")
          .agg(sum($"wc").as("n"))
          .orderBy($"n".desc, $"pair")
          .limit(1)
          .collect()
        if (tops.isEmpty) None // every word fully merged: training converged
        else {
          val top = tops(0)
          val Array(pa, pb) = top.getString(0).split(" ", 2)
          vocab = ckptSwap(
            vocab.select(
              $"term",
              bpeMergeFold($"w", lit(pa), lit(pb)).as("w"),
              $"wc"))
          onRound(r, (System.nanoTime() - t0) / 1e9)
          Some((r, top.getString(0), pa + pb, top.getLong(1)))
        }
      }
      .takeWhile(_.isDefined)
      .flatten
      .toVector
    (merges, vocab)
  }

  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainBpe(s, d)._1.toDF("round", "pair", "merged", "n").orderBy("round")
  }

  /** q_bpe_encode — the APPLY side of tokenizer training (what the merge
    * table exists for): re-tokenize the corpus under the trained vocab
    * and account per document — word count, BPE token count, and the
    * character count of the counted words (the compression-ratio
    * denominator). The vocabulary carries its final tokenization out of
    * [[trainBpe]], so encoding is ONE equi-join of the corpus token
    * stream against the vocabulary-sized frame (AQE broadcasts it when
    * it fits; the join stays shuffle-safe when a 100 TB vocab doesn't)
    * followed by a per-doc aggregate. No per-document merge work at all
    * — the fold ran once per distinct word at train time.
    */
  private def bpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = trainBpe(s, d)._2
      .select($"term", size(split($"w", " ")).cast("long").as("n_tok"))
    bm25TokensOf(docs(s, d))
      .join(vocab, "term")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum($"n_tok").as("n_bpe_tokens"),
        sum(length($"term")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Shared CTE chain for the BPE oracles: histogram → per-round pair
    * count → argmax → fold-merge. `carryTerm` threads the word through
    * every merge CTE so the encode oracle can join the final vocabulary
    * back onto the corpus; the training arithmetic is unaffected (pair
    * counts aggregate only (w, wc)).
    */
  private def bpeSqlCtes(carryTerm: Boolean): Seq[String] = {
    val keep = if (carryTerm) "term, " else ""
    val mergeFold =
      "list_reduce(list_prepend('', string_split(w, ' ')), (a, x) -> " +
        "CASE WHEN x = pb AND (a = pa OR ends_with(a, ' ' || pa)) " +
        "THEN left(a, length(a) - length(pa)) || pa || pb " +
        "ELSE CASE WHEN a = '' THEN x ELSE a || ' ' || x END END)"
    def pairsCte(src: String, out: String) =
      s"$out AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (" +
        "SELECT unnest(list_transform(generate_series(1, len(tl)-1), " +
        "i -> tl[i] || ' ' || tl[i+1])) AS pair, wc FROM (" +
        s"SELECT string_split(w, ' ') AS tl, wc FROM $src)) GROUP BY pair)"
    def top1Cte(pairs: String, out: String) =
      s"$out AS (SELECT pair, n, string_split(pair, ' ')[1] AS pa, " +
        s"string_split(pair, ' ')[2] AS pb FROM $pairs " +
        "ORDER BY n DESC, pair LIMIT 1)"
    def mergeCte(src: String, m: String, out: String) =
      s"$out AS (SELECT $keep$mergeFold AS w, wc FROM $src, $m)"
    Seq(
      "hist AS (SELECT term, CAST(count(*) AS BIGINT) AS wc " +
        "FROM (SELECT unnest(string_split(lower(text),' ')) AS term FROM documents) " +
        "WHERE regexp_full_match(term,'[a-z0-9]{3,}') GROUP BY term)",
      s"w0 AS (SELECT ${keep}array_to_string(list_transform(generate_series(1, length(term)), " +
        "i -> substr(term, CAST(i AS INTEGER), 1)), ' ') AS w, wc FROM hist)") ++
      (1 to BpeRounds).flatMap { r =>
        Seq(
          pairsCte(s"w${r - 1}", s"p$r"),
          top1Cte(s"p$r", s"m$r"),
          mergeCte(s"w${r - 1}", s"m$r", s"w$r"))
      }
  }

  private val BpeTrainSql = {
    val selects = (1 to BpeRounds)
      .map(r =>
        s"SELECT CAST($r AS INTEGER) AS round, pair, pa || pb AS merged, n FROM m$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeSqlCtes(carryTerm = false).mkString(", ")} $selects ORDER BY round"
  }

  private val BpeEncodeSql =
    s"WITH ${bpeSqlCtes(carryTerm = true).mkString(", ")} " +
      "SELECT t.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(len(string_split(v.w, ' '))) AS BIGINT) AS n_bpe_tokens, " +
      "CAST(sum(length(t.term)) AS BIGINT) AS n_chars " +
      "FROM (SELECT doc_id, term FROM (SELECT doc_id, " +
      "unnest(string_split(lower(text),' ')) AS term FROM documents) " +
      "WHERE regexp_full_match(term,'[a-z0-9]{3,}')) t " +
      s"JOIN w$BpeRounds v ON t.term = v.term " +
      "GROUP BY t.doc_id ORDER BY doc_id"

  /** The distinct shard ids the fixed query set probes — the literal
    * partition filter [[serveBm25]] pushes; exposed so ServeIndexSpec can
    * assert the probed set is a strict subset of the shard directories.
    */
  private[graft] def bm25ProbedShards(s: SparkSession): Seq[Any] =
    bm25ProbedShardsOf(queryFrame(s))

  /** The shard ids a query frame's terms probe — ≤ |distinct terms|
    * values of bounded model state, the literal partition filter every
    * BM25 serve pushes.
    */
  private def bm25ProbedShardsOf(q: DataFrame): Seq[Any] = {
    import q.sparkSession.implicits._
    q.select(pmod(hash($"term"), lit(Bm25Shards)))
      .distinct().collect().map(_.get(0)).toSeq
  }

  private def queryFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    Bm25Queries.toDF("query_id", "term")
  }

  private val Bm25ValuesSql =
    Bm25Queries.map { case (id, t) => s"($id,'$t')" }.mkString(",")

  /** The BM25 CTE chain up to the ranked frame — shared by Bm25Sql and
    * RrfSql so the lexical leg is literally the same SQL in both oracles.
    */
  private val Bm25CoreCtes =
    s"WITH q(query_id, term) AS (VALUES $Bm25ValuesSql), " +
      "tok AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term FROM documents), " +
      "ft AS (SELECT doc_id, term FROM tok WHERE regexp_full_match(term,'[a-z0-9]{3,}')), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM ft " +
      "WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term), " +
      "dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ft GROUP BY doc_id), " +
      "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
      "stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM ft) AS l), " +
      "hit AS (SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, s.n, s.l " +
      "FROM q JOIN tf ON tf.term = q.term JOIN dl ON dl.doc_id = tf.doc_id " +
      "JOIN dfreq ON dfreq.term = tf.term CROSS JOIN stats s), " +
      "ts AS (SELECT query_id, doc_id, " +
      "floor(CAST(CAST(22*tf AS HUGEINT)*l*(2*n - 2*df + 1) AS DOUBLE) " +
      "/ CAST(CAST(2*df + 1 AS HUGEINT)*(10*tf*l + 3*l + 9*dl*n) AS DOUBLE) " +
      "* 1e6 + 0.5) / 1e6 AS sc FROM hit), " +
      "scored AS (SELECT query_id, doc_id, " +
      "CAST(sum(CAST(sc AS DECIMAL(18,6))) AS DOUBLE) AS score, " +
      "CAST(count(*) AS BIGINT) AS n_terms FROM ts GROUP BY query_id, doc_id), " +
      "ranked AS (SELECT query_id, doc_id, score, n_terms, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank " +
      "FROM scored)"

  private val Bm25Sql =
    Bm25CoreCtes +
      s" SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score, n_terms " +
      s"FROM ranked WHERE rank <= $Bm25TopK ORDER BY query_id, rank"

  private val RrfSql =
    Bm25CoreCtes +
      s", lex AS (SELECT query_id, doc_id, CAST(rank AS BIGINT) AS lex_rank " +
      s"FROM ranked WHERE rank <= $Bm25TopK), " +
      s"e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2, " +
      s"${SimilarityOps.BucketSql} AS bucket FROM embeddings), " +
      "seeded AS (SELECT l.query_id, e.embedding AS p, e.n2 AS pn2, e.bucket AS bucket, " +
      "row_number() OVER (PARTITION BY l.query_id ORDER BY l.lex_rank) AS sr " +
      "FROM lex l JOIN e ON e.vec_id = l.doc_id), " +
      s"probe AS (SELECT query_id, p, pn2, unnest([${SimilarityOps.ProbeListSql}]) AS pbucket " +
      "FROM seeded WHERE sr = 1), " +
      "scand AS (SELECT probe.query_id, e.vec_id, " +
      s"floor((${Vec.dotSql("e.embedding", "p")} / (sqrt(e.n2) * sqrt(pn2))) " +
      "* 1e6 + 0.5) / 1e6 AS cos FROM e JOIN probe ON e.bucket = probe.pbucket), " +
      "sem AS (SELECT query_id, vec_id AS doc_id, CAST(row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS sem_rank " +
      s"FROM scand QUALIFY sem_rank <= $RrfTopK), " +
      "fused AS (SELECT coalesce(lex.query_id, sem.query_id) AS query_id, " +
      "coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex.lex_rank, sem.sem_rank, " +
      "CAST(CAST(coalesce(floor(1e6/(60+lex.lex_rank)+0.5)/1e6, 0) AS DECIMAL(18,6)) " +
      "+ CAST(coalesce(floor(1e6/(60+sem.sem_rank)+0.5)/1e6, 0) AS DECIMAL(18,6)) AS DOUBLE) AS rrf " +
      "FROM lex FULL JOIN sem ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id) " +
      "SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id " +
      "ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank, doc_id, rrf, lex_rank, sem_rank " +
      s"FROM fused QUALIFY rank <= $RrfTopK ORDER BY query_id, rank"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_text_tokens",
      textTokens,
      Some(
        "SELECT token, COUNT(*) AS n FROM " +
          "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
          "GROUP BY token ORDER BY n DESC, token LIMIT 100")),
    QueryDef(
      "q_text_stats",
      textStats,
      Some(
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
          "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars, " +
          "COUNT(DISTINCT source) AS n_sources, " +
          "CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars " +
          "FROM documents GROUP BY lang ORDER BY lang")),
    QueryDef("q_text_langid", textLangid, Some(LangidSql)),
    QueryDef("q_text_quality", textQuality, Some(QualitySql)),
    QueryDef("q_text_fingerprint", textFingerprint, Some(FingerprintSql)),
    QueryDef("q_text_count_tokens", textCountTokens, Some(CountTokensSql)),
    QueryDef("q_text_ngrams", textNgrams, Some(NgramsSql)),
    QueryDef("q_text_boilerplate", textBoilerplate, Some(BoilerplateSql)),
    QueryDef("q_text_boilerplate_frac", textBoilerplateFrac, Some(BoilerplateFracSql)),
    QueryDef("q_text_passage_dup", textPassageDup, Some(PassageDupSql)),
    QueryDef("q_text_passage_spans", textPassageSpans, Some(PassageSpansSql)),
    QueryDef("q_text_passage_dup50", textPassageDup50, Some(PassageDup50Sql)),
    QueryDef("q_text_passage_spans50", textPassageSpans50, Some(PassageSpans50Sql)),
    QueryDef("q_text_scrub50", textScrub50, Some(Scrub50Sql)),
    QueryDef("q_split_decontaminate", splitDecontaminate, Some(DecontaminateSql)),
    QueryDef("q_text_keyterms", textKeyterms, Some(KeytermsSql)),
    QueryDef("q_text_redact", textRedact, Some(RedactSql)),
    QueryDef("q_text_clean", textClean, Some(CleanSql)),
    QueryDef("q_text_pretokens", textPretokens, Some(PretokensSql)),
    QueryDef("q_text_repetition", textRepetition, Some(RepetitionSql)),
    QueryDef("q_text_chunk", textChunk, Some(ChunkSql)),
    QueryDef("q_index_inverted", indexInverted, Some(InvertedSql)),
    QueryDef("q_index_phrase", indexPhrase, Some(PhraseSql)),
    QueryDef("q_index_phrase_served", indexPhraseServed, Some(PhraseSql)),
    QueryDef("q_index_phrase_incr", indexPhraseIncr, Some(PhraseSql)),
    QueryDef("q_index_bm25", indexBm25, Some(Bm25Sql)),
    QueryDef("q_index_bm25_served", indexBm25Served, Some(Bm25Sql)),
    QueryDef("q_index_bm25_incr", indexBm25Incr, Some(Bm25Sql)),
    QueryDef("q_retrieval_rrf", retrievalRrf, Some(RrfSql)),
    QueryDef("q_retrieval_rrf_served", retrievalRrfServed, Some(RrfSql)),
    QueryDef("q_bpe_pairs", bpePairs, Some(BpePairsSql)),
    QueryDef("q_bpe_train", bpeTrain, Some(BpeTrainSql)),
    QueryDef("q_bpe_encode", bpeEncode, Some(BpeEncodeSql))
  )
}
