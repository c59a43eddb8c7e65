package graft

import java.nio.file.Files

import graft.ops.{SimilarityOps, StreamOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous IVF index maintenance ([[StreamOps.ivfFamily]]):
  * the model-state variant of the generation-local families — every
  * generation assigns against the EPOCH codebook (the newest full
  * snapshot's), so merge-on-read must answer the probe batch exactly like
  * a single index rebuilt with that codebook at every point in time, the
  * fold must carry the codebook forward, and the end-of-feed serve must
  * land on the oracle-checked q_sim_ivf_batch.
  */
class StreamingIvfSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private lazy val all = T(spark, sf, "embeddings")
  private lazy val cuts: (Long, Long, Long) = {
    val m = all.agg(max($"vec_id")).head().getLong(0)
    (m * 8 / 10, m * 86 / 100, m * 93 / 100)
  }

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

  test("streamed cell generations ≡ rebuilt index; codebook carried; resume") {
    val (c0, c1, c2) = cuts
    val src = Files.createTempDirectory("graft_ivf_src").toString
    val indexDir = Files.createTempDirectory("graft_ivf_idx").toString
    val ckpt = Files.createTempDirectory("graft_ivf_ckpt").toString
    // the epoch quantizer: the q_sim_ivf stand-in cents (first 16
    // vectors) — they live in the base prefix, so seed and rebuild see
    // the identical codebook
    val cents = all
      .filter($"vec_id" < 16)
      .select(
        $"vec_id".as("c_id"), $"embedding".as("c"),
        Vec.norm2($"embedding").as("cn2"))
    val probes = all
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
      .filter($"vec_id" < 5)

    StreamOps.seedIvfIndex(spark, all.filter($"vec_id" <= c0), cents, indexDir)
    stageFile(src, all.filter($"vec_id" > c0 && $"vec_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"vec_id" > c1 && $"vec_id" <= c2), "batch2", 2000000L)

    def run(): Unit = {
      val q = StreamOps
        .ivfFamily(indexDir)
        .streamWriter(
          spark.readStream
            .schema(all.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$src/embeddings.parquet"),
          indexDir,
          ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run()

    // mid-stream identity: seed + two streamed generations answer like
    // ONE index rebuilt over the prefix with the same epoch codebook
    val rebuilt = Files.createTempDirectory("graft_ivf_rebuild").toString
    SimilarityOps.writeIvfIndexFrom(
      spark,
      all.filter($"vec_id" <= c2)
        .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2")),
      cents,
      rebuilt)
    val prefixWant = rows(SimilarityOps.serveIvfBatch(spark, Seq(rebuilt), probes))
    assert(rows(SimilarityOps.serveIvfBatch(
      spark, StreamOps.ivfFamily(indexDir).roots(spark, indexDir), probes)) === prefixWant)

    // O(batch) commits; the seed snapshot is never rewritten
    def cells(sub: String): Long =
      spark.read.parquet(s"$indexDir/$sub/cells").count()
    val base = cells("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(cells(v) > 0 && cells(v) < base / 3, v)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def modTimes(sub: String): Seq[Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$indexDir/$sub"), true)
      val b = Seq.newBuilder[Long]
      while (it.hasNext) { val f = it.next(); if (f.isFile) b += f.getModificationTime }
      b.result()
    }
    assert(modTimes("v0/full").max <= (modTimes("v1/gen") ++ modTimes("v2/gen")).min)

    // compaction folds cells AND carries the codebook forward, changing
    // no answer
    StreamOps.ivfFamily(indexDir).compact(spark, indexDir)
    // grace contract: superseded generations are tombstoned (excluded
    // from roots, files intact for pre-fold readers); the NEXT
    // compaction deletes them (IndexCatalogSpec proves the full cycle)
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$indexDir/$v/${graft.index.GenLog.Superseded}")), v)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v2/full/codebook")))
    assert(rows(SimilarityOps.serveIvfBatch(
      spark, StreamOps.ivfFamily(indexDir).roots(spark, indexDir), probes)) === prefixWant)

    // resume over the compacted index: the final batch assigns against
    // the carried codebook and the serve lands on the oracle-checked
    // q_sim_ivf_batch
    stageFile(src, all.filter($"vec_id" > c2), "batch3", 3000000L)
    run()
    assert(
      rows(SimilarityOps.serveIvfBatch(
        spark, StreamOps.ivfFamily(indexDir).roots(spark, indexDir), probes)) ===
        rows(SparkEntry.queries("q_sim_ivf_batch")(spark, sf)
          .select($"probe_id", $"vec_id", $"cell".cast("long").as("cell"), $"cos")))

    // EPOCH ROLL (blue/green): retrain the quantizer over the grown
    // corpus, reassign every streamed vector into a fresh index dir, and
    // the new epoch serves exactly like a monolithic build with the new
    // codebook — while the old epoch dir is untouched
    val newCb = SimilarityOps.trainCodebook(
      all.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2")),
      16, iters = 2)
    val newCents = {
      import spark.implicits._
      newCb.toDF("c_id", "c").select($"c_id", $"c", Vec.norm2($"c").as("cn2"))
    }
    val rolled = Files.createTempDirectory("graft_ivf_rolled").toString
    StreamOps.rollIvfEpoch(spark, indexDir, newCents, rolled)
    val monolithicNew = Files.createTempDirectory("graft_ivf_mono").toString
    SimilarityOps.writeIvfIndexFrom(
      spark,
      all.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2")),
      newCents,
      monolithicNew)
    assert(
      rows(SimilarityOps.serveIvfBatch(
        spark, StreamOps.ivfFamily(rolled).roots(spark, rolled), probes)) ===
        rows(SimilarityOps.serveIvfBatch(spark, Seq(monolithicNew), probes)))
    // old epoch still serves the old answers (blue/green: nothing moved)
    assert(
      rows(SimilarityOps.serveIvfBatch(
        spark, StreamOps.ivfFamily(indexDir).roots(spark, indexDir), probes)) ===
        rows(SparkEntry.queries("q_sim_ivf_batch")(spark, sf)
          .select($"probe_id", $"vec_id", $"cell".cast("long").as("cell"), $"cos")))
  }
}
