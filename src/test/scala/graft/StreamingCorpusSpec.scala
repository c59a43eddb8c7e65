package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.ops.StreamOps
import org.apache.spark.sql.functions._

/** The continuous-ingest corpus build ([[StreamOps.liftCuratedDocs]]):
  * streamed curation must produce the same per-(split, lang) accounting
  * as the identical batch composition (gate ∧ mix → first-writer exact
  * dedup → split), and a fresh-checkpoint rerun must reproduce it exactly
  * (idempotent re-ingest).
  */
class StreamingCorpusSpec extends SparkSpec {

  private def stage(): String = {
    val dir = Files.createTempDirectory("graft_corpus_stream")
    Files.copy(
      Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** The batch composition the stream mirrors, built from the same
    * predicates: quality gate ∧ mix gate, md5 first-writer-wins dedup,
    * pure-function split tag, per-(split, lang) accounting.
    */
  private def batchAccounting(): Seq[String] = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text")).orderBy($"doc_id")
    val bucket = pmod(graft.ops.Hashing.h32($"doc_id".cast("string")), lit(100L))
    graft.ops.CurationOps
      .qualityGate(T(spark, sf, "documents"))
      .filter(graft.ops.CurationOps.mixPredicate)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select(
        $"lang",
        $"n_chars",
        when(bucket < 80, "train")
          .when(bucket < 90, "valid")
          .otherwise("test")
          .as("split"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .collect()
      .map(_.toString)
      .sorted
      .toSeq
  }

  private def curated(dir: String) =
    StreamOps.liftCuratedDocs(spark, dir).select("doc_id", "lang", "n_chars", "split")

  private def runStream(dir: String, sinkName: String): Seq[String] = {
    val q = curated(dir)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sinkName)
      .option(
        "checkpointLocation",
        Files.createTempDirectory("graft_corpus_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      spark
        .table(sinkName)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
    } finally q.stop()
  }

  test("streamed corpus accounting equals the batch composition") {
    val streamed = runStream(stage(), "graft_corpus_out")
    val batch = batchAccounting()
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("fresh-checkpoint rerun reproduces the curated accounting exactly") {
    val dir = stage()
    val first = runStream(dir, "graft_corpus_out_a")
    val second = runStream(dir, "graft_corpus_out_b")
    assert(first == second)
  }

  test("partitioned streaming file sink: hive layout, exactly-once restart") {
    import spark.implicits._
    val dir = stage()
    val sink = Files.createTempDirectory("graft_corpus_sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_corpus_sink_ckpt").toString
    // the continuous version of Sinks.writeCorpusShards: curated survivors
    // land as hive-partitioned parquet, the checkpoint + _spark_metadata
    // pair making the append transactional
    def run(): Unit = {
      val q = graft.ops.Sinks
        .corpusShardsStreamWriter(curated(dir), sink, ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run()
    val n1 = spark.read.parquet(sink).count()
    assert(n1 > 0)
    val dirs = new java.io.File(sink).listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_"))
    assert(dirs.nonEmpty && dirs.toSet.subsetOf(Set("split=train", "split=valid", "split=test")), dirs.toSeq)
    // restarting from the SAME checkpoint with no new input must append
    // nothing: the sink log already records the committed batch
    run()
    assert(spark.read.parquet(sink).count() == n1)
    // and the trainer's read path is partition-pruned, exactly like the
    // batch export
    val plan = spark.read.parquet(sink).filter($"split" === "train")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(split"), plan)
  }
}
