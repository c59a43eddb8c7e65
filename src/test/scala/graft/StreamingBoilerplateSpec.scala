package graft

import java.nio.file.Files

import graft.ops.{StreamOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous boilerplate stats ([[StreamOps.BoilerFamily]]):
  * per-batch shingle-count generations merged on read must reproduce the
  * monolithic q_text_boilerplate report over the union of all ingested
  * documents at every point in time. The interesting property is the
  * RETROACTIVE one: an OLD document's boiler count must RISE when a new
  * batch pushes a shared shingle over the 3-distinct-docs threshold —
  * document frequency is corpus-wide state, yet no generation is ever
  * recomputed (the per-doc counts are generation-local; only the serve
  * re-derives frequency from the additive state). Plus O(batch) commits,
  * compaction invariance (fold = concatenation of disjoint doc sets),
  * and the end-of-feed identity with the oracle-checked registry query.
  */
class StreamingBoilerplateSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private lazy val all = T(spark, sf, "documents")
  private lazy val cuts: (Long, Long) = {
    val m = all.agg(max($"doc_id")).head().getLong(0)
    (m * 8 / 10, m * 9 / 10)
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

  private def monolithic(docs: DataFrame): Seq[String] =
    rows(TextOps.boilerplateReportOf(TextOps.shingleCountsOf(docs)))

  test("streamed stats ≡ monolithic report; retroactive threshold; compaction") {
    val (c0, c1) = cuts
    val src = Files.createTempDirectory("graft_boil_src").toString
    val dir = Files.createTempDirectory("graft_boil_idx").toString
    val ckpt = Files.createTempDirectory("graft_boil_ckpt").toString

    StreamOps.BoilerFamily.seed(spark, all.filter($"doc_id" <= c0), dir)
    stageFile(src, all.filter($"doc_id" > c0 && $"doc_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"doc_id" > c1), "batch2", 2000000L)

    val q = StreamOps.BoilerFamily
      .streamWriter(
        spark.readStream
          .schema(all.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$src/documents.parquet"),
        dir,
        ckpt)
      .start()
    try q.processAllAvailable()
    finally q.stop()

    // end-of-feed identity with the oracle-checked registry queries —
    // both thresholds serve from the SAME maintained counts
    def counts() = familyState(StreamOps.BoilerFamily, dir)
    assert(
      rows(TextOps.boilerplateReportOf(counts())) ===
        rows(SparkEntry.queries("q_text_boilerplate")(spark, sf)))
    assert(
      rows(TextOps.boilerplateFracReportOf(counts())) ===
        rows(SparkEntry.queries("q_text_boilerplate_frac")(spark, sf)))

    // RETROACTIVE frequency: serving over base+batches must raise some
    // BASE document's boiler count relative to the base-only report —
    // new documents pushed shared shingles over the 3-doc threshold,
    // and the maintained state answered for old docs without any
    // generation recompute
    val baseOnly = TextOps
      .boilerplateReportOf(TextOps.shingleCountsOf(all.filter($"doc_id" <= c0)))
      .select($"doc_id", $"n_boiler".as("nb_base"))
    val nowBase = TextOps.boilerplateReportOf(counts())
      .filter($"doc_id" <= c0)
      .select($"doc_id", $"n_boiler")
    val risen = nowBase
      .join(baseOnly, Seq("doc_id"))
      .filter($"n_boiler" > $"nb_base")
      .count()
    assert(risen > 0,
      "no base document's boilerplate count rose — the retroactive path is untested")

    // O(batch) commits: generations are fractions of the seed state
    def nrows(sub: String): Long = spark.read.parquet(s"$dir/$sub").count()
    val baseN = nrows("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(nrows(v) > 0 && nrows(v) < baseN / 3, v)

    // compaction (fold = concatenation over disjoint docs) is
    // read-invariant, and the grace contract holds
    val want = rows(TextOps.boilerplateReportOf(counts()))
    StreamOps.BoilerFamily.compact(spark, dir)
    assert(rows(TextOps.boilerplateReportOf(counts())) === want)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v2/full")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/v1/gen/${graft.index.GenLog.Superseded}")))
  }
}
