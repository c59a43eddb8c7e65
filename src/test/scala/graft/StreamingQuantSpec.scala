package graft

import java.nio.file.Files

import graft.ops.{SimilarityOps, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous quantized-index maintenance
  * ([[StreamOps.QuantFamily]]): the int8 scan tier's
  * per-batch bucket generations merged on read must run the identical
  * integer stage-1 cut + float rescore as a single rebuilt index at
  * every point in time — the stage-1 cut is an exact BIGINT ranking, so
  * generation layout can change NOTHING (no float-order slack to hide
  * behind). Mid-stream vs a prefix rebuild, compaction invariance, and
  * end-of-feed vs the oracle-checked q_sim_quantized.
  */
class StreamingQuantSpec extends SparkSpec {
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

  test("streamed int8 generations ≡ rebuilt index; compaction; resume") {
    val (c0, c1, c2) = cuts
    val src = Files.createTempDirectory("graft_quant_src").toString
    val indexDir = Files.createTempDirectory("graft_quant_idx").toString
    val ckpt = Files.createTempDirectory("graft_quant_ckpt").toString
    // the standard probe (vec_id 0) lives in the base prefix
    val probes = SimilarityOps.quantProbeFrame(spark, sf)

    StreamOps.QuantFamily.seed(spark, all.filter($"vec_id" <= c0), indexDir)
    stageFile(src, all.filter($"vec_id" > c0 && $"vec_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"vec_id" > c1 && $"vec_id" <= c2), "batch2", 2000000L)

    def run(): Unit = {
      val q = StreamOps.QuantFamily
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

    // mid-stream identity against a prefix rebuild
    val rebuilt = Files.createTempDirectory("graft_quant_rebuild").toString
    SimilarityOps.writeQuantIndexFor(spark, all.filter($"vec_id" <= c2), rebuilt)
    val prefixWant =
      rows(SimilarityOps.serveQuantBatch(spark, Seq(rebuilt), probes))
    assert(
      rows(SimilarityOps.serveQuantBatch(
        spark, StreamOps.QuantFamily.roots(spark, indexDir), probes)) === prefixWant)

    // O(batch) commits; seed untouched
    def gen(sub: String): Long = spark.read.parquet(s"$indexDir/$sub").count()
    val base = gen("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(gen(v) > 0 && gen(v) < base / 3, v)

    // compaction changes no answer
    StreamOps.QuantFamily.compact(spark, indexDir)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // grace contract: the superseded generation is tombstoned, not
    // deleted (IndexCatalogSpec proves the full delete cycle)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/v1/gen/${graft.index.GenLog.Superseded}")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v2/full")))
    assert(
      rows(SimilarityOps.serveQuantBatch(
        spark, StreamOps.QuantFamily.roots(spark, indexDir), probes)) === prefixWant)

    // resume + final batch: the continuous serve lands on the
    // oracle-checked q_sim_quantized
    stageFile(src, all.filter($"vec_id" > c2), "batch3", 3000000L)
    run()
    assert(
      rows(SimilarityOps.serveQuantBatch(
        spark, StreamOps.QuantFamily.roots(spark, indexDir), probes)) ===
        rows(SparkEntry.queries("q_sim_quantized")(spark, sf)))
  }
}
