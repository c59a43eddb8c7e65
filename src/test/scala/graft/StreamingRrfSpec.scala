package graft

import java.nio.file.Files

import graft.ops.{StreamOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CONTINUOUS HYBRID RETRIEVAL ([[TextOps.serveRrf]] over family roots):
  * the RRF composition served from the three MAINTAINED generation sets —
  * streamed postings, streamed ANN buckets, streamed id-sharded store —
  * must answer exactly like the monolithic q_retrieval_rrf over the same
  * corpus at every point in time: mid-stream against the composed query
  * on the staged prefix corpus, after compacting all three indexes
  * (union-preserving folds), and at end-of-feed against the
  * oracle-checked registry query.
  */
class StreamingRrfSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def stageFile(
      dir: String, df: DataFrame, table: String, name: String, mtime: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/_stage_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .head
      .getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/$table.parquet"))
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$table.parquet/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    new java.io.File(s"$dir/$table.parquet/$name.parquet").setLastModified(mtime)
  }

  test("streamed three-index serve ≡ monolithic RRF; compaction-invariant") {
    val docsAll = T(spark, sf, "documents")
    val vecsAll = T(spark, sf, "embeddings")
    // ONE id cut sequence for both tables (doc_id ≡ vec_id in the
    // testdata), so every prefix is a consistent corpus
    val m = docsAll.agg(max($"doc_id")).head().getLong(0)
    val (c0, c1, c2) = (m * 8 / 10, m * 86 / 100, m * 93 / 100)

    val src = Files.createTempDirectory("graft_rrf_src").toString
    val bm25Dir = Files.createTempDirectory("graft_rrf_bm25").toString
    val annDir = Files.createTempDirectory("graft_rrf_ann").toString
    val storeDir = Files.createTempDirectory("graft_rrf_store").toString
    val ckpts = (1 to 3).map(_ => Files.createTempDirectory("graft_rrf_ckpt").toString)

    // seed all three indexes from the base corpus (yesterday's state)
    StreamOps.Bm25Family.seed(spark, docsAll.filter($"doc_id" <= c0), bm25Dir)
    StreamOps.AnnFamily.seed(spark, vecsAll.filter($"vec_id" <= c0), annDir)
    StreamOps.EmbStoreFamily.seed(spark, vecsAll.filter($"vec_id" <= c0), storeDir)

    def stageBatch(name: String, lo: Long, hi: Long, mtime: Long): Unit = {
      stageFile(
        src, docsAll.filter($"doc_id" > lo && $"doc_id" <= hi),
        "documents", name, mtime)
      stageFile(
        src, vecsAll.filter($"vec_id" > lo && $"vec_id" <= hi),
        "embeddings", name, mtime)
    }
    stageBatch("batch1", c0, c1, 1000000L)
    stageBatch("batch2", c1, c2, 2000000L)

    def run(): Unit = {
      val qs = Seq(
        StreamOps.Bm25Family.streamWriter(
          StreamOps.docsStream(
            spark, s"$src/documents.parquet", Map("maxFilesPerTrigger" -> "1")),
          bm25Dir, ckpts(0)),
        StreamOps.AnnFamily.streamWriter(
          spark.readStream
            .schema(vecsAll.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$src/embeddings.parquet"),
          annDir, ckpts(1)),
        StreamOps.EmbStoreFamily.streamWriter(
          spark.readStream
            .schema(vecsAll.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$src/embeddings.parquet"),
          storeDir, ckpts(2))).map(_.start())
      try qs.foreach(_.processAllAvailable())
      finally qs.foreach(_.stop())
    }
    run()

    def continuous(): Seq[String] =
      rows(TextOps.serveRrf(
        spark,
        StreamOps.Bm25Family.roots(spark, bm25Dir),
        StreamOps.AnnFamily.roots(spark, annDir),
        StreamOps.EmbStoreFamily.roots(spark, storeDir)))

    // mid-stream identity: the maintained indexes must answer exactly
    // like the monolithic composed query over the staged prefix corpus
    val prefixDir = Files.createTempDirectory("graft_rrf_prefix").toString
    docsAll.filter($"doc_id" <= c2)
      .write.parquet(s"$prefixDir/documents.parquet")
    vecsAll.filter($"vec_id" <= c2)
      .write.parquet(s"$prefixDir/embeddings.parquet")
    val prefixWant = rows(SparkEntry.queries("q_retrieval_rrf")(spark, prefixDir))
    assert(continuous() === prefixWant)

    // compacting all three families is union-preserving: no hit changes
    StreamOps.Bm25Family.compact(spark, bm25Dir)
    StreamOps.AnnFamily.compact(spark, annDir)
    StreamOps.EmbStoreFamily.compact(spark, storeDir)
    assert(continuous() === prefixWant)

    // the final batch arrives over the compacted indexes; the continuous
    // serve lands exactly on the oracle-checked registry query
    stageBatch("batch3", c2, m, 3000000L)
    run()
    assert(
      continuous() === rows(SparkEntry.queries("q_retrieval_rrf")(spark, sf)))
  }
}
