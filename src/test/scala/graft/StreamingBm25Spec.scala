package graft

import java.nio.file.Files

import graft.ops.{StreamOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous lexical index maintenance ([[StreamOps.Bm25Family]]):
  * per-batch postings generations merged on read must answer the fixed BM25
  * query set exactly like a single rebuilt index at every point in time —
  * mid-stream against an in-session rebuild over the prefix corpus, and at
  * end-of-feed against the oracle-checked full-corpus q_index_bm25. Plus
  * the scale contract (each commit is batch-sized; the seed snapshot is
  * never rewritten), compaction invariance, and resume over a compacted
  * index.
  */
class StreamingBm25Spec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // the corpus split 80/~7/7/7 by doc_id (monotone-ingest contract): base
  // is yesterday's seeded index, three staged files are today's feed
  private lazy val all = T(spark, sf, "documents")
  private lazy val cuts: (Long, Long, Long) = {
    val m = all.agg(max($"doc_id")).head().getLong(0)
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
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/documents.parquet/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    new java.io.File(s"$dir/documents.parquet/$name.parquet").setLastModified(mtime)
  }

  test("streamed generations ≡ rebuilt index; O(batch) commits; compaction; resume") {
    val (c0, c1, c2) = cuts
    val src = Files.createTempDirectory("graft_bm25_src").toString
    val indexDir = Files.createTempDirectory("graft_bm25_idx").toString
    val ckpt = Files.createTempDirectory("graft_bm25_ckpt").toString

    StreamOps.Bm25Family.seed(spark, all.filter($"doc_id" <= c0), indexDir)
    stageFile(src, all.filter($"doc_id" > c0 && $"doc_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"doc_id" > c1 && $"doc_id" <= c2), "batch2", 2000000L)

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

    // mid-stream merge-on-read identity: seed + two streamed generations
    // must answer exactly like ONE index rebuilt over the prefix corpus
    val rebuilt = Files.createTempDirectory("graft_bm25_rebuild").toString
    TextOps.writeBm25IndexFrom(spark, all.filter($"doc_id" <= c2), rebuilt)
    val prefixWant = rows(TextOps.serveBm25(spark, Seq(rebuilt)))
    assert(rows(TextOps.serveBm25(
      spark, StreamOps.Bm25Family.roots(spark, indexDir))) === prefixWant)

    // O(batch): each committed generation's postings are a small fraction
    // of the seed snapshot's, and the seed is never rewritten (every v0
    // file predates every streamed generation's)
    def postings(sub: String): Long =
      spark.read.parquet(s"$indexDir/$sub/postings").count()
    val basePostings = postings("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(postings(v) > 0 && postings(v) < basePostings / 3, v)
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
    StreamOps.Bm25Family.compact(spark, indexDir)
    // grace contract: superseded generations are tombstoned (excluded
    // from roots, files intact for pre-fold readers); the NEXT
    // compaction deletes them (IndexCatalogSpec proves the full cycle)
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$indexDir/$v/${graft.index.GenLog.Superseded}")), v)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v2/full")))
    assert(rows(TextOps.serveBm25(
      spark, StreamOps.Bm25Family.roots(spark, indexDir))) === prefixWant)

    // resume over the compacted index: the final batch arrives and the
    // continuous serve lands on the oracle-checked full-corpus query
    stageFile(src, all.filter($"doc_id" > c2), "batch3", 3000000L)
    run()
    assert(
      rows(TextOps.serveBm25(spark, StreamOps.Bm25Family.roots(spark, indexDir))) ===
        rows(SparkEntry.queries("q_index_bm25")(spark, sf)))
  }
}
