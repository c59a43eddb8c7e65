package graft

import java.nio.file.Files

import graft.ops.{CurationOps, SimilarityOps, StreamOps, TextOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The UNIFIED text+vector program ([[StreamOps.unifiedPipelineWriter]]):
  * one document feed, enriched with at-ingest embeddings by a
  * stream-static join, maintains all thirteen families — the eight
  * CorpusPipeline legs AND the five VectorPipeline legs — in ONE
  * foreachBatch. EndToEndPipelineSpec proves the text side alone and
  * StreamingVectorPipelineSpec the vector side alone; this is the
  * composition proof a production ingest actually needs: a single feed,
  * read once per micro-batch, where the vector tier indexes exactly the
  * CURATED SURVIVOR set (rows the quality/mix/dedup gates dropped must
  * never reach an index), every serve equals a monolithic rebuild over
  * those survivors, and the day-2 compaction cycle (all thirteen families,
  * mid-stream) changes no answer.
  */
class StreamingUnifiedPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** The batch composition the continuous program must converge to
    * (the EndToEndPipelineSpec reference): gate ∧ mix, md5
    * first-writer-wins (≡ the stream's arrival-order dedup over an
    * id-ordered feed), pure-function split tag.
    */
  private def curateBatch(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5($"text")).orderBy($"doc_id")
    val bucket = pmod(graft.ops.Hashing.h32($"doc_id".cast("string")), lit(100L))
    CurationOps
      .qualityGate(df)
      .filter(CurationOps.mixPredicate)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn")
      .withColumn(
        "split",
        when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def stageFile(dir: String, df: DataFrame, name: String, mtime: Long): Unit = {
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
    new java.io.File(s"$dir/documents.parquet/$name.parquet").setLastModified(mtime)
  }

  test("one feed maintains all thirteen families; the vector tier indexes " +
    "exactly the curated survivors; every serve ≡ a rebuild; compaction " +
    "changes nothing") {
    val all = T(spark, sf, "documents")
    val emb = T(spark, sf, "embeddings")
    val mx = all.agg(max($"doc_id")).head().getLong(0)
    val cut = mx * 8 / 10
    val c1 = mx * 86 / 100
    val c2 = mx * 93 / 100

    val curatedBase = curateBatch(all.filter($"doc_id" <= cut)).localCheckpoint(true)

    val srcDir = Files.createTempDirectory("graft_up_src").toString
    val src = s"$srcDir/documents.parquet"
    val ckpt = Files.createTempDirectory("graft_up_ckpt").toString
    def dir(n: String) = Files.createTempDirectory(s"graft_up_$n").toString
    val p = StreamOps.UnifiedPipeline(
      StreamOps.CorpusPipeline(
        lakeDir = dir("lake"),
        dedupIndexDir = dir("dedup"),
        bm25IndexDir = dir("bm25"),
        boilerStatsDir = dir("boiler"),
        passageGramsDir = dir("passage"),
        bigramStatsDir = dir("bigram"),
        reportSummaryDir = dir("summary"),
        jdbcUrl = "",
        reportTable = "",
        phraseIndexDir = dir("phrase")),
      StreamOps.VectorPipeline(
        annDir = dir("ann"),
        quantDir = dir("quant"),
        ivfDir = dir("ivf"),
        semDir = dir("sem"),
        storeDir = dir("store")))

    // the IVF epoch quantizer: the q_sim_ivf stand-in
    val cents = emb
      .filter($"vec_id" < 16)
      .select(
        $"vec_id".as("c_id"), $"embedding".as("c"),
        Vec.norm2($"embedding").as("cn2"))
    StreamOps.seedUnifiedPipeline(spark, curatedBase, emb, cents, p)
    val seedSemCents = spark.read.parquet(s"${p.vectors.semDir}/v0/full/cents")

    stageFile(srcDir, all.filter($"doc_id" > cut && $"doc_id" <= c1), "b1", 1000000L)
    stageFile(srcDir, all.filter($"doc_id" > c1 && $"doc_id" <= c2), "b2", 2000000L)
    def run(): Unit = {
      val q = StreamOps
        .unifiedPipelineWriter(
          StreamOps.liftUnifiedFeed(
            spark, src, emb, Map("maxFilesPerTrigger" -> "1")),
          p,
          ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run()
    // the day-2 production loop mid-stream: stop, compact ALL THIRTEEN
    // families, stage tomorrow's feed, restart from the same checkpoint
    StreamOps.compactUnifiedPipeline(spark, p)
    stageFile(srcDir, all.filter($"doc_id" > c2), "b3", 3000000L)
    run()

    // ── the references: the batch-curated full corpus and ITS embeddings
    val curatedAll = curateBatch(all).localCheckpoint(true)
    val embCur = emb
      .join(curatedAll.select($"doc_id"), emb("vec_id") === $"doc_id", "left_semi")
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
      .localCheckpoint(true)

    // text: the lake is the curated set, row-exact
    assert(
      rows(spark.read.parquet(p.corpus.lakeDir)
        .select($"doc_id", $"lang", $"source", $"n_chars", $"split")) ===
        rows(curatedAll.select($"doc_id", $"lang", $"source", $"n_chars", $"split")),
      "lake diverged from the batch-curated corpus")
    // text: the published report ≡ the batch report over the curated set
    assert(
      rows(StreamOps.publishedCorpusReport(spark, p.corpus.reportSummaryDir)) ===
        rows(curatedAll.groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))),
      "published report diverged")

    // text: the continuous positional index answers the phrase benchmark
    // exactly like an in-session explode of the curated corpus — the
    // thirteenth family rides the same feed
    def phraseGot() = rows(TextOps.servePhrase(
      spark, StreamOps.PhraseFamily.roots(spark, p.corpus.phraseIndexDir), TextOps.PhraseQueries))
    val phraseWant =
      rows(graft.ops.TextOps.phraseHits(curatedAll, graft.ops.TextOps.PhraseQueries))
    assert(phraseGot() === phraseWant, "phrase leg diverged")

    // vector: the survivor-set invariant — the store carries EXACTLY the
    // curated documents' vectors (a gated-out row reaching an index is
    // the composition bug this spec exists to catch)
    val storeIds = StreamOps.EmbStoreFamily
      .roots(spark, p.vectors.storeDir)
      .map(r => spark.read.parquet(r))
      .reduce(_ unionByName _)
      .select($"vec_id")
    assert(
      rows(storeIds) === rows(embCur.select($"vec_id")),
      "vector store ≠ curated survivor embeddings")

    // ANN: continuous serve ≡ a monolithic bucket index over embCur
    val annProbes = emb
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
      .withColumn("bucket", SimilarityOps.bucketCol)
      .filter($"vec_id" < 5)
      .select(
        $"vec_id".as("probe_id"), $"embedding".as("p"), $"n2".as("pn2"),
        explode(array(
          $"bucket" +: (0 until SimilarityOps.SignBits)
            .map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
      .localCheckpoint(true)
    val annRebuilt = Files.createTempDirectory("graft_up_ann_rb").toString
    SimilarityOps.writeAnnIndexFor(spark, embCur, annRebuilt)
    def annGot() = rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, p.vectors.annDir), annProbes))
    val annWant = rows(SimilarityOps.serveAnnBatch(spark, Seq(annRebuilt), annProbes))
    assert(annGot() === annWant, "ANN leg diverged")

    // quantized tier: exact-BIGINT cut, no float-order slack
    val qProbes = SimilarityOps.quantProbeFrame(spark, sf)
    val quantRebuilt = Files.createTempDirectory("graft_up_q_rb").toString
    SimilarityOps.writeQuantIndexFor(spark, embCur, quantRebuilt)
    def quantGot() =
      rows(SimilarityOps.serveQuantBatch(
        spark, StreamOps.QuantFamily.roots(spark, p.vectors.quantDir), qProbes))
    val quantWant =
      rows(SimilarityOps.serveQuantBatch(spark, Seq(quantRebuilt), qProbes))
    assert(quantGot() === quantWant, "quantized leg diverged")

    // IVF: continuous serve ≡ one index rebuilt with the epoch codebook
    val ivfProbes = embCur.filter($"vec_id" < 5)
    val ivfRebuilt = Files.createTempDirectory("graft_up_ivf_rb").toString
    SimilarityOps.writeIvfIndexFrom(spark, embCur, cents, ivfRebuilt)
    def ivfGot() = rows(SimilarityOps.serveIvfBatch(
      spark, StreamOps.ivfFamily(p.vectors.ivfDir).roots(spark, p.vectors.ivfDir), ivfProbes))
    val ivfWant = rows(SimilarityOps.serveIvfBatch(spark, Seq(ivfRebuilt), ivfProbes))
    assert(ivfGot() === ivfWant, "IVF leg diverged")

    // semantic: survivor-log union ≡ the monolithic anchor prune over
    // embCur under the seed-epoch codebook
    val semDir = p.vectors.semDir
    def semGot() =
      rows(familyState(StreamOps.semFamily(semDir), semDir, "survivors").orderBy("vec_id"))
    val semWant = rows(
      SimilarityOps.semSurvivorsWith(embCur, seedSemCents).orderBy($"vec_id"))
    assert(semGot() === semWant, "semantic leg diverged")

    // a second compaction (folding the post-resume generations) changes
    // no answer on either side
    StreamOps.compactUnifiedPipeline(spark, p)
    assert(annGot() === annWant, "ANN answer changed by compaction")
    assert(quantGot() === quantWant, "quant answer changed by compaction")
    assert(ivfGot() === ivfWant, "IVF answer changed by compaction")
    assert(semGot() === semWant, "semantic answer changed by compaction")
    assert(phraseGot() === phraseWant, "phrase answer changed by compaction")
    assert(
      rows(StreamOps.publishedCorpusReport(spark, p.corpus.reportSummaryDir)) ===
        rows(curatedAll.groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))),
      "report changed by compaction")
  }
}
