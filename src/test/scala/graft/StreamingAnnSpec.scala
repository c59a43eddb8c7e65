package graft

import java.nio.file.Files

import graft.ops.{SimilarityOps, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous ANN index maintenance ([[StreamOps.AnnFamily]]):
  * per-batch bucket generations merged on read must answer the standard
  * probe batch exactly like a single rebuilt index at every point in time
  * — mid-stream against an in-session rebuild over the prefix corpus, and
  * at end-of-feed against the oracle-checked q_sim_batch. Plus the scale
  * contract (each commit is batch-sized; the seed snapshot is never
  * rewritten), compaction invariance, and resume over a compacted index.
  */
class StreamingAnnSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // the corpus split 80/~7/7/7 by vec_id (monotone-ingest contract)
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

  test("streamed generations ≡ rebuilt index; O(batch) commits; compaction; resume") {
    val (c0, c1, c2) = cuts
    val src = Files.createTempDirectory("graft_ann_src").toString
    val indexDir = Files.createTempDirectory("graft_ann_idx").toString
    val ckpt = Files.createTempDirectory("graft_ann_ckpt").toString
    val probes = SimilarityOps.batchProbeFrame(spark, sf)

    StreamOps.AnnFamily.seed(spark, all.filter($"vec_id" <= c0), indexDir)
    stageFile(src, all.filter($"vec_id" > c0 && $"vec_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"vec_id" > c1 && $"vec_id" <= c2), "batch2", 2000000L)

    def run(): Unit = {
      val q = StreamOps.AnnFamily
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

    // mid-stream merge-on-read identity: seed + two streamed generations
    // must answer exactly like ONE index rebuilt over the prefix corpus
    val rebuilt = Files.createTempDirectory("graft_ann_rebuild").toString
    SimilarityOps.writeAnnIndexFor(spark, all.filter($"vec_id" <= c2), rebuilt)
    val prefixWant = rows(SimilarityOps.serveAnnBatch(spark, Seq(rebuilt), probes))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, indexDir), probes)) === prefixWant)

    // O(batch): each committed generation is a small fraction of the seed
    // snapshot, and the seed is never rewritten
    def gen(sub: String): Long = spark.read.parquet(s"$indexDir/$sub").count()
    val base = gen("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(gen(v) > 0 && gen(v) < base / 3, v)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def modTimes(sub: String): Seq[Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$indexDir/$sub"), true)
      val b = Seq.newBuilder[Long]
      while (it.hasNext) { val f = it.next(); if (f.isFile) b += f.getModificationTime }
      b.result()
    }
    assert(modTimes("v0/full").max <= (modTimes("v1/gen") ++ modTimes("v2/gen")).min)

    // compaction folds the generations into v2/full without changing a hit
    StreamOps.AnnFamily.compact(spark, indexDir)
    // grace contract: superseded generations are tombstoned (excluded
    // from roots, files intact for pre-fold readers); the NEXT
    // compaction deletes them (IndexCatalogSpec proves the full cycle)
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$indexDir/$v/${graft.index.GenLog.Superseded}")), v)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v2/full")))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, indexDir), probes)) === prefixWant)

    // resume over the compacted index: the final batch arrives and the
    // continuous serve lands on the oracle-checked q_sim_batch
    stageFile(src, all.filter($"vec_id" > c2), "batch3", 3000000L)
    run()
    assert(
      rows(SimilarityOps.serveAnnBatch(
        spark, StreamOps.AnnFamily.roots(spark, indexDir), probes)) ===
        rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
  }
}
