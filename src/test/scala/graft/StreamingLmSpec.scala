package graft

import java.nio.file.Files

import graft.ops.{LmOps, StreamOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The unigram LM served from the CONTINUOUS lexical index
  * ([[StreamOps.serveLmUnigramContinuous]] / serveLmScoreContinuous):
  * the model (cf = Σ tf over merge-on-read postings, N = Σ generation
  * stats) and the per-doc scores (the tf-grouping identity documented at
  * [[LmOps.lmScoreFromPostings]]) must equal the registry queries at
  * every point — mid-stream against the prefix corpus, after
  * compaction, and at end-of-feed against the oracle-checked q_lm_*.
  * One state, one more serve: the stream feeding this spec is the SAME
  * Bm25Family.streamWriter the lexical family runs — no LM-specific
  * maintenance exists to test.
  */
class StreamingLmSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private lazy val all = T(spark, sf, "documents")
  private lazy val cuts: (Long, Long) = {
    val m = all.agg(max($"doc_id")).head().getLong(0)
    (m * 8 / 10, m * 9 / 10)
  }

  // the registry computations over an arbitrary prefix corpus
  private def wantUnigram(dd: DataFrame): Seq[String] =
    rows(LmOps.lmUnigramOf(dd))
  private def wantScore(dd: DataFrame): Seq[String] = {
    val ft = TextOps.bm25TokensOf(dd)
    rows(
      LmOps.lmScoreOf(dd, LmOps.rarityAggOf(ft, LmOps.unigramCountsOf(ft)))
        .filter($"n_tokens" > 0))
  }

  private def stageFile(dir: String, df: DataFrame, name: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/_stage_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .head
      .getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/documents.parquet/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  test("LM model + scores from the streamed postings ≡ registry at every stage") {
    val (c0, c1) = cuts
    val src = Files.createTempDirectory("graft_lm_src").toString
    val indexDir = Files.createTempDirectory("graft_lm_idx").toString
    val ckpt = Files.createTempDirectory("graft_lm_ckpt").toString

    StreamOps.Bm25Family.seed(spark, all.filter($"doc_id" <= c0), indexDir)
    stageFile(src, all.filter($"doc_id" > c0 && $"doc_id" <= c1), "batch1")

    def run(): Unit = {
      val q = StreamOps.Bm25Family
        .streamWriter(
          StreamOps.docsStream(
            spark, s"$src/documents.parquet", Map("maxFilesPerTrigger" -> "1")),
          indexDir,
          ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run()

    // mid-stream: seed + one streamed generation ≡ the prefix corpus
    val prefix = all.filter($"doc_id" <= c1)
    assert(rows(StreamOps.serveLmUnigramContinuous(spark, indexDir)) ===
      wantUnigram(prefix))
    assert(rows(StreamOps.serveLmScoreContinuous(spark, indexDir)) ===
      wantScore(prefix))
    // the per-language production default rides the SAME postings: lang
    // joins on from the lake map, and the (lang, term) tf-grouping
    // identity must reproduce the registry computation exactly
    assert(
      rows(StreamOps.serveLmScoreLangContinuous(
        spark, indexDir, prefix.select($"doc_id", $"lang"))) ===
        rows(LmOps.lmScoreLangOf(prefix).filter($"n_tokens" > 0)))

    // the DSIR selection weights are one more serve on the same postings
    // (tf-grouping identity; target totals via the lake's lang map)
    assert(
      rows(StreamOps.serveSampleImportanceContinuous(
        spark, indexDir, prefix.select($"doc_id", $"lang"))) ===
        rows(graft.ops.CurationOps.sampleImportanceOf(prefix)))

    // compaction folds generations without moving a probability
    StreamOps.Bm25Family.compact(spark, indexDir)
    assert(rows(StreamOps.serveLmUnigramContinuous(spark, indexDir)) ===
      wantUnigram(prefix))

    // end-of-feed: the serves land on the oracle-checked registry queries
    stageFile(src, all.filter($"doc_id" > c1), "batch2")
    run()
    assert(rows(StreamOps.serveLmUnigramContinuous(spark, indexDir)) ===
      rows(SparkEntry.queries("q_lm_unigram")(spark, sf)))
    assert(rows(StreamOps.serveLmScoreContinuous(spark, indexDir)) ===
      rows(SparkEntry.queries("q_lm_score")(spark, sf).filter($"n_tokens" > 0)))
    assert(
      rows(StreamOps.serveLmScoreLangContinuous(
        spark, indexDir, all.select($"doc_id", $"lang"))) ===
        rows(SparkEntry.queries("q_lm_score_lang")(spark, sf)
          .filter($"n_tokens" > 0)))
    assert(
      rows(StreamOps.serveSampleImportanceContinuous(
        spark, indexDir, all.select($"doc_id", $"lang"))) ===
        rows(SparkEntry.queries("q_sample_importance")(spark, sf)))
  }

  test("bigram model from streamed counts ≡ monolithic train at every stage") {
    val (c0, c1) = cuts
    val src = Files.createTempDirectory("graft_bg_src").toString
    val dir = Files.createTempDirectory("graft_bg_idx").toString
    val ckpt = Files.createTempDirectory("graft_bg_ckpt").toString
    // a postings index over the SAME feed: q_lm_interp's unigram leg
    // serves from it (the smoothed models compose the two states)
    val idx = Files.createTempDirectory("graft_bg_lex").toString
    val ckpt2 = Files.createTempDirectory("graft_bg_ckpt2").toString

    StreamOps.BigramFamily.seed(spark, all.filter($"doc_id" <= c0), dir)
    StreamOps.Bm25Family.seed(spark, all.filter($"doc_id" <= c0), idx)
    stageFile(src, all.filter($"doc_id" > c0 && $"doc_id" <= c1), "batch1")

    def run(): Unit = {
      val feed = () => StreamOps.docsStream(
        spark, s"$src/documents.parquet", Map("maxFilesPerTrigger" -> "1"))
      val q = StreamOps.BigramFamily.streamWriter(feed(), dir, ckpt).start()
      try q.processAllAvailable()
      finally q.stop()
      val q2 = StreamOps.Bm25Family.streamWriter(feed(), idx, ckpt2).start()
      try q2.processAllAvailable()
      finally q2.stop()
    }
    run()

    // mid-stream: pair counts are additive over disjoint doc sets, and
    // the conditional table (cfl derived at serve time) must equal a
    // from-scratch train over the prefix corpus
    def want(dd: DataFrame): Seq[String] =
      rows(LmOps.lmBigramFromCounts(LmOps.bigramCountsOf(dd)))
    // the train-only apply from the SAME split-keyed state: filtering
    // the payload to split='train' must equal a from-scratch train-split
    // count over the prefix corpus, eval docs scored through the
    // registry's own seam
    def wantApply(dd: DataFrame): Seq[String] =
      rows(LmOps.lmBigramApplyFromCounts(
        LmOps.bigramCountsOf(dd.filter(LmOps.splitCol($"doc_id") === "train")),
        dd))
    def gotApply(dd: DataFrame): Seq[String] =
      rows(StreamOps.serveLmBigramApplyContinuous(spark, dir, dd))
    // the SMOOTHED models from the same state(s): Kneser-Ney's whole
    // model derives from the pair counts; Jelinek-Mercer composes the
    // pair counts with the postings' unigram leg
    def gotKn(dd: DataFrame): Seq[String] =
      rows(StreamOps.serveLmKnContinuous(spark, dir, dd))
    def gotInterp(dd: DataFrame): Seq[String] =
      rows(StreamOps.serveLmInterpContinuous(spark, dir, idx, dd))
    val prefix = all.filter($"doc_id" <= c1)
    assert(rows(StreamOps.serveLmBigramContinuous(spark, dir)) === want(prefix))
    assert(gotApply(prefix) === wantApply(prefix))
    assert(gotKn(prefix) === rows(LmOps.lmKnOf(prefix)))
    assert(gotInterp(prefix) === rows(LmOps.lmInterpOf(prefix)))

    // compaction folds by RE-AGGREGATION (not concatenation): the
    // snapshot stays O(bigram types) and no probability moves
    StreamOps.BigramFamily.compact(spark, dir)
    assert(rows(StreamOps.serveLmBigramContinuous(spark, dir)) === want(prefix))
    assert(gotApply(prefix) === wantApply(prefix))
    assert(gotKn(prefix) === rows(LmOps.lmKnOf(prefix)))

    // end-of-feed: the serves land on the oracle-checked registry queries
    stageFile(src, all.filter($"doc_id" > c1), "batch2")
    run()
    assert(rows(StreamOps.serveLmBigramContinuous(spark, dir)) ===
      rows(SparkEntry.queries("q_lm_bigram")(spark, sf)))
    assert(gotApply(all) ===
      rows(SparkEntry.queries("q_lm_bigram_apply")(spark, sf)))
    assert(gotKn(all) === rows(SparkEntry.queries("q_lm_kn")(spark, sf)))
    assert(gotInterp(all) ===
      rows(SparkEntry.queries("q_lm_interp")(spark, sf)))
  }
}
