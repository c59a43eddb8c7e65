package graft

import java.nio.file.Files

import graft.ops.{SimilarityOps, StreamOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed continuous VECTOR program
  * ([[StreamOps.vectorPipelineWriter]]): all five vector index families
  * — float ANN buckets, int8 quantized tier, IVF cells, semantic-dedup
  * cells + survivor log, id-sharded store — maintained from ONE stream
  * in ONE foreachBatch. The per-family streams prove each leg alone
  * (StreamingAnnSpec, StreamingQuantSpec, StreamingIvfSpec,
  * StreamingSemanticSpec); this is the vector-side integration proof
  * mirroring EndToEndPipelineSpec: after the feed drains, EVERY family's
  * merge-on-read serve must equal a monolithic rebuild over the full
  * corpus, and compacting all five must change no answer.
  */
class StreamingVectorPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private lazy val all = T(spark, sf, "embeddings")

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
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet"))
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    new java.io.File(s"$dir/embeddings.parquet/$name.parquet").setLastModified(mtime)
  }

  test("one stream drives all five vector families; each serve ≡ a rebuild") {
    val m = all.agg(max($"vec_id")).head().getLong(0)
    val c0 = m * 8 / 10
    val c1 = m * 86 / 100
    val c2 = m * 93 / 100
    val src = Files.createTempDirectory("graft_vp_src").toString
    val ckpt = Files.createTempDirectory("graft_vp_ckpt").toString
    def dir(n: String) = Files.createTempDirectory(s"graft_vp_$n").toString
    val p = StreamOps.VectorPipeline(
      annDir = dir("ann"),
      quantDir = dir("quant"),
      ivfDir = dir("ivf"),
      semDir = dir("sem"),
      storeDir = dir("store"))

    // the IVF epoch quantizer: the q_sim_ivf stand-in (first 16 vectors,
    // all inside the base prefix)
    val cents = all
      .filter($"vec_id" < 16)
      .select(
        $"vec_id".as("c_id"), $"embedding".as("c"),
        Vec.norm2($"embedding").as("cn2"))
    StreamOps.seedVectorPipeline(spark, all.filter($"vec_id" <= c0), cents, p)
    val seedSemCents = spark.read.parquet(s"${p.semDir}/v0/full/cents")

    stageFile(src, all.filter($"vec_id" > c0 && $"vec_id" <= c1), "b1", 1000000L)
    stageFile(src, all.filter($"vec_id" > c1 && $"vec_id" <= c2), "b2", 2000000L)
    def run(): Unit = {
      val q = StreamOps
        .vectorPipelineWriter(
          spark.readStream
            .schema(all.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$src/embeddings.parquet"),
          p,
          ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run()

    // the day-2 production loop: stop (above), compact ALL FIVE families
    // while stopped, stage tomorrow's feed, restart from the same
    // checkpoint — every assertion below runs against state that crossed
    // a compaction boundary mid-stream
    StreamOps.compactVectorPipeline(spark, p)
    stageFile(src, all.filter($"vec_id" > c2), "b3", 3000000L)
    run()

    val e = all.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))

    // ANN: continuous serve ≡ a monolithic bucket index over the full
    // corpus, for the standard multi-probe batch
    val annProbes = e
      .withColumn("bucket", SimilarityOps.bucketCol)
      .filter($"vec_id" < 5)
      .select(
        $"vec_id".as("probe_id"), $"embedding".as("p"), $"n2".as("pn2"),
        explode(array(
          $"bucket" +: (0 until SimilarityOps.SignBits)
            .map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
      .localCheckpoint(eager = true)
    val annRebuilt = Files.createTempDirectory("graft_vp_ann_rb").toString
    SimilarityOps.writeAnnIndexFor(spark, e, annRebuilt)
    def annGot() = rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, p.annDir), annProbes))
    val annWant = rows(SimilarityOps.serveAnnBatch(spark, Seq(annRebuilt), annProbes))
    assert(annGot() === annWant, "ANN leg diverged")

    // quantized tier: the exact-BIGINT stage-1 cut leaves no float-order
    // slack — streamed generations must reproduce the rebuilt index
    val qProbes = SimilarityOps.quantProbeFrame(spark, sf)
    val quantRebuilt = Files.createTempDirectory("graft_vp_q_rb").toString
    SimilarityOps.writeQuantIndexFor(spark, e, quantRebuilt)
    def quantGot() =
      rows(SimilarityOps.serveQuantBatch(
        spark, StreamOps.QuantFamily.roots(spark, p.quantDir), qProbes))
    val quantWant =
      rows(SimilarityOps.serveQuantBatch(spark, Seq(quantRebuilt), qProbes))
    assert(quantGot() === quantWant, "quantized leg diverged")

    // IVF: continuous serve ≡ one index rebuilt with the epoch codebook
    val ivfProbes = e.filter($"vec_id" < 5)
    val ivfRebuilt = Files.createTempDirectory("graft_vp_ivf_rb").toString
    SimilarityOps.writeIvfIndexFrom(spark, e, cents, ivfRebuilt)
    def ivfGot() = rows(SimilarityOps.serveIvfBatch(
      spark, StreamOps.ivfFamily(p.ivfDir).roots(spark, p.ivfDir), ivfProbes))
    val ivfWant = rows(SimilarityOps.serveIvfBatch(spark, Seq(ivfRebuilt), ivfProbes))
    assert(ivfGot() === ivfWant, "IVF leg diverged")

    // semantic: survivor-log union ≡ the monolithic anchor prune under
    // the seed-epoch codebook
    def semGot() =
      rows(familyState(StreamOps.semFamily(p.semDir), p.semDir, "survivors").orderBy("vec_id"))
    val semWant = rows(
      SimilarityOps.semSurvivorsWith(e, seedSemCents).orderBy($"vec_id"))
    assert(semGot() === semWant, "semantic leg diverged")

    // store: generation union carries exactly the full corpus, shard
    // assignment identical to a monolithic store build
    val storeRebuilt = Files.createTempDirectory("graft_vp_st_rb").toString
    SimilarityOps.writeEmbStoreFor(spark, e, storeRebuilt)
    def storeGot() = rows(
      StreamOps.EmbStoreFamily
        .roots(spark, p.storeDir)
        .map(r => spark.read.parquet(r))
        .reduce(_ unionByName _)
        .select($"vec_id", $"ishard".cast("long").as("ishard"))
        .orderBy($"vec_id"))
    val storeWant = rows(
      spark.read.parquet(storeRebuilt)
        .select($"vec_id", $"ishard".cast("long").as("ishard"))
        .orderBy($"vec_id"))
    assert(storeGot() === storeWant, "store leg diverged")

    // a second compaction (now folding the post-resume generations into
    // the day-1 fold) changes no answer either
    StreamOps.compactVectorPipeline(spark, p)
    assert(annGot() === annWant, "ANN answer changed by compaction")
    assert(quantGot() === quantWant, "quant answer changed by compaction")
    assert(ivfGot() === ivfWant, "IVF answer changed by compaction")
    assert(semGot() === semWant, "semantic answer changed by compaction")
    assert(storeGot() === storeWant, "store answer changed by compaction")
  }
}
