package graft

import java.nio.file.Files

import graft.ops.{SimilarityOps, StreamOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous semantic dedup ([[StreamOps.semFamily]]):
  * the seventh generation family. The anchor rule is monotone in vec_id
  * and ingest ids are monotone across batches, so each generation's
  * survivor log is FINAL at commit — the continuous survivor set (a
  * plain union of survivor artifacts) must equal the monolithic anchor
  * prune over the prefix corpus under the SEED-EPOCH codebook at every
  * point in time, compaction must carry the codebook and concatenate
  * the logs without changing an answer, and the epoch roll must equal a
  * fresh seed over the grown corpus while the old epoch serves
  * untouched.
  */
class StreamingSemanticSpec extends SparkSpec {
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

  /** The maintained survivor set: the union of the survivor logs under
    * the index's roots, in q_dedup_semantic's shape.
    */
  private def survivors(indexDir: String): DataFrame =
    familyState(StreamOps.semFamily(indexDir), indexDir, "survivors").orderBy($"vec_id")

  /** Monolithic anchor prune over `e` with the given codebook — the
    * rebuild every streamed state must match.
    */
  private def rebuilt(e: DataFrame, cents: DataFrame): Seq[String] =
    rows(
      SimilarityOps
        .semSurvivorsWith(
          e.select($"vec_id", $"embedding")
            .withColumn("n2", Vec.norm2($"embedding")),
          cents)
        .orderBy($"vec_id"))

  test("streamed survivor logs ≡ monolithic prune; compaction; epoch roll") {
    val (c0, c1, c2) = cuts
    val src = Files.createTempDirectory("graft_sem_src").toString
    val indexDir = Files.createTempDirectory("graft_sem_idx").toString
    val ckpt = Files.createTempDirectory("graft_sem_ckpt").toString

    val base = all.filter($"vec_id" <= c0)
    StreamOps.seedSemanticIndex(spark, base, indexDir)
    // the seed-epoch codebook: k = max(16, ceil(sqrt(N_base))) over the
    // BASE — later batches must keep assigning against it
    val seedCents = spark.read.parquet(s"$indexDir/v0/full/cents")

    stageFile(src, all.filter($"vec_id" > c0 && $"vec_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"vec_id" > c1 && $"vec_id" <= c2), "batch2", 2000000L)
    def run(): Unit = {
      val q = StreamOps
        .semFamily(indexDir)
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

    // mid-stream identity: union of survivor logs ≡ the monolithic
    // prune over the prefix, under the seed-epoch codebook
    val prefixWant = rebuilt(all.filter($"vec_id" <= c2), seedCents)
    assert(rows(survivors(indexDir)) === prefixWant)

    // O(batch) commits: each generation's members are a fraction of the
    // base, and the seed snapshot is never rewritten
    def cells(sub: String): Long =
      spark.read.parquet(s"$indexDir/$sub/cells").count()
    val baseN = cells("v0/full")
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(cells(v) > 0 && cells(v) < baseN / 3, v)

    // compaction folds members + survivor logs and carries the epoch
    // codebook forward, changing no answer
    StreamOps.semFamily(indexDir).compact(spark, indexDir)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // grace contract: the superseded generation is tombstoned, not
    // deleted (IndexCatalogSpec proves the full delete cycle)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$indexDir/v1/gen/${graft.index.GenLog.Superseded}")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/v2/full/cents")))
    assert(rows(survivors(indexDir)) === prefixWant)

    // resume over the compacted index: the final batch probes the folded
    // members through the carried codebook
    stageFile(src, all.filter($"vec_id" > c2), "batch3", 3000000L)
    run()
    assert(
      rows(survivors(indexDir)) ===
        rebuilt(all, seedCents))

    // the cluster report from the maintained index: member + survivor
    // counts per cell read merge-on-read from the generation artifacts,
    // no recomputation — must equal per-cell counts derived from a
    // monolithic assignment + prune under the seed epoch, and every
    // nonempty cell keeps its lowest id
    def stats(members: DataFrame, kept: DataFrame): Seq[String] =
      rows(members.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
        .join(kept.groupBy($"cell").agg(count(lit(1)).as("n_kept")), Seq("cell"), "left")
        .select($"cell", $"n_vecs", coalesce($"n_kept", lit(0L)).as("n_kept"))
        .orderBy($"cell"))
    val fam = StreamOps.semFamily(indexDir)
    val got = stats(
      familyState(fam, indexDir, "cells").select($"cell".cast("long").as("cell")),
      familyState(fam, indexDir, "survivors"))
    val eAll = all
      .select($"vec_id", $"embedding")
      .withColumn("n2", Vec.norm2($"embedding"))
    assert(
      got === stats(
        SimilarityOps.semanticCellsWith(eAll, seedCents),
        SimilarityOps.semSurvivorsWith(eAll, seedCents)),
      "maintained cluster report diverged from the monolithic counts")
    assert(got.nonEmpty && got.forall(!_.endsWith(",0]")), "a cell kept no survivor")

    // EPOCH ROLL (blue/green): re-seed over the grown corpus — k and the
    // codebook re-derive from the full vector set, survivors recompute
    // under the new epoch, and the result equals a fresh monolithic
    // seed, which IS the oracle-checked q_dedup_semantic answer; the old
    // epoch's answers are untouched
    val rolledDir = Files.createTempDirectory("graft_sem_rolled").toString
    StreamOps.rollSemanticEpoch(spark, indexDir, rolledDir)
    assert(
      rows(survivors(rolledDir)) ===
        rows(SparkEntry.queries("q_dedup_semantic")(spark, sf)))
    assert(
      rows(survivors(indexDir)) ===
        rebuilt(all, seedCents))
  }

  test("LLOYD-trained epoch roll: retrain, re-assign, stream on, serve ≡ monolithic trained rebuild") {
    val (c0, c1, c2) = cuts
    val src = Files.createTempDirectory("graft_semt_src").toString
    val indexDir = Files.createTempDirectory("graft_semt_idx").toString
    val ckpt = Files.createTempDirectory("graft_semt_ckpt").toString

    // day 1: seed + two streamed batches under the stand-in epoch
    StreamOps.seedSemanticIndex(spark, all.filter($"vec_id" <= c0), indexDir)
    stageFile(src, all.filter($"vec_id" > c0 && $"vec_id" <= c1), "batch1", 1000000L)
    stageFile(src, all.filter($"vec_id" > c1 && $"vec_id" <= c2), "batch2", 2000000L)
    def run(dir: String, cp: String): Unit = {
      val q = StreamOps
        .semFamily(dir)
        .streamWriter(
          spark.readStream
            .schema(all.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$src/embeddings.parquet"),
          dir,
          cp)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run(indexDir, ckpt)

    // the TRAINED roll: Lloyd-train over the c2-prefix corpus gathered
    // from the maintained roots, re-assign + re-prune under the new
    // quantizer, blue/green into a new directory
    val rolledDir = Files.createTempDirectory("graft_semt_rolled").toString
    StreamOps.rollSemanticEpochTrained(spark, indexDir, rolledDir)
    val rolledCents = spark.read.parquet(s"$rolledDir/v0/full/cents")
    // it actually retrained: Lloyd moved the centroids off the first-k
    // stand-in the old epoch was pinned to
    val standInCents = spark.read.parquet(s"$indexDir/v0/full/cents")
    assert(
      rows(rolledCents.orderBy($"c_id")) !== rows(standInCents.orderBy($"c_id")),
      "trained roll must move the centroids off the seed stand-in")
    // roll ≡ monolithic trained rebuild over the same prefix corpus:
    // the roots gather exactly the prefix vectors, and training +
    // assignment + prune are deterministic
    val prefix = all.filter($"vec_id" <= c2)
    assert(
      rows(survivors(rolledDir)) ===
        rebuilt(prefix, rolledCents))
    // the OLD epoch serves untouched (blue/green)
    assert(
      rows(survivors(indexDir)) ===
        rebuilt(prefix, standInCents))

    // day 2 under the new epoch: the ingest stream restarts against the
    // rolled directory with a FRESH checkpoint over a fresh feed (the
    // roll's seed already folded everything up to the roll point — the
    // restarted source must carry only post-roll data); the next
    // micro-batch assigns against the TRAINED codebook and its survivor
    // log is final at commit — continuous state ≡ monolithic prune of
    // the FULL corpus under the trained epoch
    val src2 = Files.createTempDirectory("graft_semt_src2").toString
    stageFile(src2, all.filter($"vec_id" > c2), "batch3", 3000000L)
    val q2 = StreamOps
      .semFamily(rolledDir)
      .streamWriter(
        spark.readStream
          .schema(all.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$src2/embeddings.parquet"),
        rolledDir,
        Files.createTempDirectory("graft_semt_ckpt2").toString)
      .start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(
      rows(survivors(rolledDir)) ===
        rebuilt(all, rolledCents))

    // a second trained roll at full corpus lands exactly on the
    // spec-gated registry query: q_dedup_semantic_trained trains the
    // same deterministic Lloyd quantizer over the same vector set
    val fullDir = Files.createTempDirectory("graft_semt_full").toString
    StreamOps.rollSemanticEpochTrained(spark, rolledDir, fullDir)
    assert(
      rows(survivors(fullDir)) ===
        rows(SparkEntry.queries("q_dedup_semantic_trained")(spark, sf)))
  }

  test("at-least-once retry of a COMMITTED generation reproduces identical artifacts") {
    val (c0, c1, _) = cuts
    val indexDir = Files.createTempDirectory("graft_sem_retry").toString
    StreamOps.seedSemanticIndex(spark, all.filter($"vec_id" <= c0), indexDir)
    val batch = all.filter($"vec_id" > c0 && $"vec_id" <= c1)
    val fam = StreamOps.semFamily(indexDir)
    fam.commit(batch, indexDir, batchId = 0L)
    val first = rows(survivors(indexDir))
    // The crash window: generation v1 already committed, the stream
    // restarts, and foreachBatch re-delivers batch 0. The write must not
    // scan its own target through the merge-on-read roots — before the
    // self-root filter this deterministically threw FileNotFoundException
    // (the cached listing of $path/cells raced the Overwrite) and wedged
    // the pipeline on every restart.
    fam.commit(batch, indexDir, batchId = 0L)
    assert(rows(survivors(indexDir)) === first)
  }
}
