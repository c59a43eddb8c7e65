package graft

import java.nio.file.Files

import graft.ops.{CurationOps, LmOps, StreamOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LM served from the CONTINUOUS lexical index: the unigram model
  * (cf = Σ tf over merge-on-read postings, N = Σ generation stats) and
  * the registry splits' own serves ([[LmOps.lmScoreServe]] and its
  * siblings, the tf-grouping identity documented at
  * [[LmOps.lmScoreAggFromPostings]]) over the stream's index dir must
  * equal the registry queries on every row — mid-stream against the
  * prefix corpus, after compaction, and at end-of-feed against the
  * oracle-checked q_lm_*. One state, one more serve: the stream feeding
  * this spec is the SAME Bm25Family.streamWriter the lexical family
  * runs — no LM-specific maintenance exists to test.
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
    rows(LmOps.lmScoreOf(dd, LmOps.rarityAggOf(ft, LmOps.unigramCountsOf(ft))))
  }

  // the unigram model from the postings state: cf = Σ tf, N = Σ stats.l
  private def gotUnigram(indexDir: String): Seq[String] = {
    val (postings, nTotal) = LmOps.lmFrames(spark, indexDir)
    rows(LmOps.lmUnigramFromCounts(LmOps.unigramCountsFromPostings(postings, nTotal)))
  }

  // the DSIR weights from the same postings, lang from the lake's map
  private def gotImportance(indexDir: String, dd: DataFrame): Seq[String] =
    rows(CurationOps.sampleImportanceFromPostings(
      LmOps.lmFrames(spark, indexDir)._1, dd.select($"doc_id", $"lang")))

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
    // the split serves are total: zero-token docs keep their row
    val prefix = all.filter($"doc_id" <= c1)
    assert(gotUnigram(indexDir) === wantUnigram(prefix))
    assert(rows(LmOps.lmScoreServe(spark, indexDir, prefix)) === wantScore(prefix))
    // the per-language production default rides the SAME postings: lang
    // joins on from the lake map, and the (lang, term) tf-grouping
    // identity must reproduce the registry computation exactly
    assert(rows(LmOps.lmScoreLangServe(spark, indexDir, prefix)) ===
      rows(LmOps.lmScoreLangOf(prefix)))
    assert(gotImportance(indexDir, prefix) === rows(CurationOps.sampleImportanceOf(prefix)))

    // compaction folds generations without moving a probability
    StreamOps.Bm25Family.compact(spark, indexDir)
    assert(gotUnigram(indexDir) === wantUnigram(prefix))

    // end-of-feed: the serves land on the oracle-checked registry queries
    stageFile(src, all.filter($"doc_id" > c1), "batch2")
    run()
    def registry(q: String) = rows(SparkEntry.queries(q)(spark, sf))
    assert(gotUnigram(indexDir) === registry("q_lm_unigram"))
    assert(rows(LmOps.lmScoreServe(spark, indexDir, all)) === registry("q_lm_score"))
    assert(rows(LmOps.lmScoreLangServe(spark, indexDir, all)) === registry("q_lm_score_lang"))
    assert(gotImportance(indexDir, all) === registry("q_sample_importance"))
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
      rows(LmOps.lmBigramApplyFromCounts(
        familyState(StreamOps.BigramFamily, dir)
          .filter($"split" === "train")
          .select($"w1", $"w2", $"cf2"),
        dd))
    // the SMOOTHED models from the same state(s), through the registry
    // splits' own serves: Kneser-Ney's whole model derives from the pair
    // counts; Jelinek-Mercer composes the pair counts with the postings'
    // unigram leg
    def gotKn(dd: DataFrame): Seq[String] = rows(LmOps.lmKnServe(spark, dir, dd))
    def gotInterp(dd: DataFrame): Seq[String] =
      rows(LmOps.lmInterpServe(spark, dir, idx, dd))
    def got(): Seq[String] = rows(LmOps.lmBigramFromCounts(LmOps.bigramCounts(spark, dir)))
    val prefix = all.filter($"doc_id" <= c1)
    assert(got() === want(prefix))
    assert(gotApply(prefix) === wantApply(prefix))
    assert(gotKn(prefix) === rows(LmOps.lmKnOf(prefix)))
    assert(gotInterp(prefix) === rows(LmOps.lmInterpOf(prefix)))

    // compaction folds by RE-AGGREGATION (not concatenation): the
    // snapshot stays O(bigram types) and no probability moves
    StreamOps.BigramFamily.compact(spark, dir)
    assert(got() === want(prefix))
    assert(gotApply(prefix) === wantApply(prefix))
    assert(gotKn(prefix) === rows(LmOps.lmKnOf(prefix)))

    // end-of-feed: the serves land on the oracle-checked registry queries
    stageFile(src, all.filter($"doc_id" > c1), "batch2")
    run()
    assert(got() === rows(SparkEntry.queries("q_lm_bigram")(spark, sf)))
    assert(gotApply(all) ===
      rows(SparkEntry.queries("q_lm_bigram_apply")(spark, sf)))
    assert(gotKn(all) === rows(SparkEntry.queries("q_lm_kn")(spark, sf)))
    assert(gotInterp(all) ===
      rows(SparkEntry.queries("q_lm_interp")(spark, sf)))
  }
}
