package graft

import java.nio.file.Files

import graft.ops.{DedupOps, StreamOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous passage-duplication stats ([[StreamOps.PassageFamily]],
  * the tenth GenLog family): per-batch positioned 5-gram generations
  * merged on read must reproduce the monolithic q_text_passage_dup
  * report over the union of all ingested documents at every point in
  * time. The interesting property is RETROACTIVE coverage: an OLD
  * document's dup_frac must RISE when a new batch carries a copy of its
  * passage (the gram crosses the 2-distinct-docs bar) — corpus-wide
  * state answered with no generation recompute. Plus O(batch) commits,
  * policy-driven compaction read-invariance, and the end-of-feed
  * identity with the oracle-checked registry query.
  */
class StreamingPassageSpec extends SparkSpec {
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

  test("streamed grams ≡ monolithic report; retroactive coverage; policy compaction") {
    val (c0, c1) = cuts
    val src = Files.createTempDirectory("graft_pass_src").toString
    val dir = Files.createTempDirectory("graft_pass_idx").toString
    val ckpt = Files.createTempDirectory("graft_pass_ckpt").toString

    StreamOps.PassageFamily.seed(spark, all.filter($"doc_id" <= c0), dir)
    stageFile(src, all.filter($"doc_id" > c0 && $"doc_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"doc_id" > c1), "batch2", 2000000L)

    val q = StreamOps.PassageFamily
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
    // EVERY passage surface (duplication report, scrub spans, both
    // ≥50-token min-match variants, the decontamination scrub) is one
    // kernel over the one maintained gram state
    def grams() = familyState(StreamOps.PassageFamily, dir)
    def registry(q: String) = rows(SparkEntry.queries(q)(spark, sf))
    assert(rows(TextOps.passageDupReportOf(grams())) === registry("q_text_passage_dup"))
    assert(rows(TextOps.passageSpansOf(grams())) === registry("q_text_passage_spans"))
    assert(rows(TextOps.passageMinlenReportOf(grams())) === registry("q_text_passage_dup50"))
    assert(rows(TextOps.passageMinlenSpansOf(grams())) === registry("q_text_passage_spans50"))
    assert(rows(TextOps.decontaminateSpansOf(grams())) === registry("q_split_decontaminate"))
    assert(
      rows(TextOps.scrubWithSpans(all, TextOps.passageMinlenSpansOf(grams()))) ===
        registry("q_text_scrub50"),
      "the served scrub (state spans + lake text, no re-gram) diverged")
    // a 50-token window is exactly 46 consecutive gram fingerprints, so
    // the edge witness re-derives from the state; the doc universe comes
    // from the lake
    assert(
      rows(DedupOps.passageCcFromOcc(
        spark, TextOps.windowFingerprintsFromGrams(grams()), all.select($"doc_id"))) ===
        registry("q_dedup_passage_cc"),
      "the served passage clusters (windows re-derived from gram chains, " +
        "universe from the lake) diverged from the registry closure")

    // SLIM state: the persisted gram key is the 16-byte md5 fingerprint,
    // not the 5-token string — every consumer above used equality only.
    // Logical width is the scale measure (shuffle + real-text parquet,
    // where grams are mostly unique and dictionaries fall back to plain
    // encoding; the synthetic corpus's tiny vocab would let a string
    // dictionary hide the cost on disk): 16 B fixed vs the strings' ~27 B
    // mean here — and ~6× a 5-gram of real 5-byte words.
    val state = spark.read.parquet(s"$dir/v0/full")
    assert(state.schema("g5").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val fpBytes = state
      .agg(sum(length($"g5"))).head().getLong(0)
    assert(fpBytes === state.count() * 16L, "every fingerprint is exactly 16 B")
    val strBytes = TextOps.passageGramsOf(all.filter($"doc_id" <= c0))
      .agg(sum(length($"g5"))).head().getLong(0)
    assert(fpBytes < strBytes,
      s"fingerprint state ($fpBytes B) must be narrower than strings ($strBytes B)")

    // RETROACTIVE coverage: the batches carry near/exact copies of base
    // passages (the corpus's dup structure), so serving over base+batches
    // must raise some BASE document's covered-token count vs base-only
    val baseOnly = TextOps
      .passageDupReportOf(TextOps.passageGramsOf(all.filter($"doc_id" <= c0)))
      .select($"doc_id", $"n_covered".as("nc_base"))
    val risen = TextOps.passageDupReportOf(grams())
      .filter($"doc_id" <= c0)
      .select($"doc_id", $"n_covered")
      .join(baseOnly, Seq("doc_id"))
      .filter($"n_covered" > $"nc_base")
      .count()
    assert(risen > 0,
      "no base document's coverage rose — the retroactive path is untested")

    // O(batch) commits: generations are fractions of the seed state
    def nrows(sub: String): Long = spark.read.parquet(s"$dir/$sub").count()
    val baseN = nrows("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(nrows(v) > 0 && nrows(v) < baseN / 3, v)

    // the POLICY drives this family's compaction too: at maxGens=2 the
    // two committed generations trip the count trigger, and the fold is
    // read-invariant
    val want = rows(TextOps.passageDupReportOf(grams()))
    spark.conf.set(graft.index.GenLog.CompactMaxGensKey, "2")
    try {
      assert(StreamOps.PassageFamily.maybeCompact(spark, dir),
        "two gens at maxGens=2 must trigger the policy fold")
      assert(rows(TextOps.passageDupReportOf(grams())) === want)
    } finally spark.conf.unset(graft.index.GenLog.CompactMaxGensKey)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v2/full")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/v1/gen/${graft.index.GenLog.Superseded}")))
  }
}
