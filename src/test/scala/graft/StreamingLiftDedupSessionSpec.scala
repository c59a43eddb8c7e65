package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.ops.StreamOps
import org.apache.spark.sql.functions._

/** Streaming lifts of the dedup and session operators (VERDICT r1 item 6):
  * each readStream plan must agree with its batch form on the same events.
  */
class StreamingLiftDedupSessionSpec extends SparkSpec {

  private def stageEvents(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_stream")
    Files.copy(
      Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("readStream dedup keeps exactly the batch key set, one row per key") {
    val dir = stageEvents()
    val q = StreamOps
      .liftDedup(spark, dir.toString)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_dedup_out")
      // one surviving row per key…
      assert(
        streamed.count() ==
          streamed.select("user_id", "event_type").distinct().count())
      // …and the key set equals the batch operator's key set (which row
      // wins is arrival-order-dependent in both the stream and the
      // reference sink, so keys are the contract)
      val streamKeys = streamed
        .select("user_id", "event_type")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      val batchKeys = SparkEntry
        .queries("q_stream_dedup")(spark, sf)
        .select("user_id", "event_type")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(streamKeys == batchKeys)
    } finally q.stop()
  }

  test("readStream md5 dedup keeps exactly the batch q_dedup_exact key set") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_docs")
    Files.copy(
      Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    def runOnce(name: String): Seq[String] = {
      val q = StreamOps
        .liftDedupExact(spark, dir.toString)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        val streamed = spark.table(name)
        // one surviving row per content hash…
        assert(streamed.count() == streamed.select("content_md5").distinct().count())
        streamed.select("content_md5").collect().map(_.getString(0)).sorted.toSeq
      } finally q.stop()
    }
    val streamKeys = runOnce("graft_md5_out")
    // …and the hash set equals the batch operator's: q_dedup_exact keeps
    // one doc per md5(text), so its key set is the distinct content hashes
    val batchKeys = graft
      .T(spark, sf, "documents")
      .select(md5($"text"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
      .toSeq
    assert(streamKeys.nonEmpty && streamKeys == batchKeys)
    // the batch operator emits exactly one row per key too
    assert(
      SparkEntry.queries("q_dedup_exact")(spark, sf).count() == batchKeys.size)
    // fresh-checkpoint rerun: same key set (idempotent re-ingest)
    assert(runOnce("graft_md5_out2") == streamKeys)
  }

  test("md5 dedup state carries ACROSS micro-batches: later dups suppressed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_docs_mb")
    Files.copy(
      Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = StreamOps
      .liftDedupExact(spark, dir.toString)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_md5_mb")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_mb").toString)
      .start()
    try {
      q.processAllAvailable() // micro-batch 1: the full corpus
      val count1 = spark.table("graft_md5_mb").count()
      assert(count1 > 0)
      // micro-batch 2, arriving while batch-1 state is live: 10 re-id'd
      // COPIES of existing texts (new doc_ids, same content hash) plus 5
      // genuinely new texts — only the 5 may come out the other side
      val docs = T(spark, sf, "documents")
      val dups = docs.orderBy("doc_id").limit(10)
        .withColumn("doc_id", $"doc_id" + 1000000L)
      val news = docs.orderBy("doc_id").limit(5)
        .withColumn("doc_id", $"doc_id" + 1000500L)
        .withColumn("text", concat($"text", lit(" fresh-"), $"doc_id"))
      val batch2 = dups.unionByName(news).select(docs.columns.map(col): _*)
      val tmp = Files.createTempDirectory("graft_mb2").toString + "/out"
      batch2.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, dir.resolve("batch2.parquet"))
      q.processAllAvailable() // micro-batch 2 against carried state
      val out = spark.table("graft_md5_mb")
      assert(out.count() == count1 + 5, s"got ${out.count()}, want ${count1 + 5}")
      // the survivors of batch 2 are exactly the 5 new-text doc_ids
      val late = out.filter($"doc_id" >= 1000000L)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(late.length == 5 && late.forall(_ >= 1000500L), late.toString)
    } finally q.stop()
  }

  test("md5 dedup drops rows older than the advanced watermark (late-data contract)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_docs_late")
    Files.copy(
      Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = StreamOps
      .liftDedupExact(spark, dir.toString)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_md5_late")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt_late").toString)
      .start()
    try {
      q.processAllAvailable() // batch 1: the corpus
      val count1 = spark.table("graft_md5_late").count()
      val docs = T(spark, sf, "documents")
      def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = Files.createTempDirectory("graft_late_tmp").toString + "/out"
        df.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, dir.resolve(name))
      }
      // batch 2: a sentinel ~57 days ahead (ingest_ts = origin + doc_id
      // seconds) — new text, so it passes, and the watermark jumps to
      // sentinel − 7 days, far past every batch-1 timestamp
      stage(
        docs.orderBy("doc_id").limit(1)
          .withColumn("doc_id", lit(5000000L))
          .withColumn("text", lit("sentinel far-future text")),
        "sentinel.parquet")
      q.processAllAvailable()
      assert(spark.table("graft_md5_late").count() == count1 + 1)
      // batch 3: a GENUINELY NEW text whose event time (doc_id 600 →
      // origin + 600 s) is now far below the watermark: the late-data
      // contract says it must be dropped, not emitted
      stage(
        docs.orderBy("doc_id").limit(1)
          .withColumn("doc_id", lit(600L))
          .withColumn("text", lit("late but never seen before")),
        "late.parquet")
      q.processAllAvailable()
      assert(
        spark.table("graft_md5_late").count() == count1 + 1,
        "late row must be dropped by the watermark, not emitted")
    } finally q.stop()
  }

  test("stream-stream interval join emits exactly the batch q_stream_join pairs") {
    val dir = stageEvents()
    val q = StreamOps
      .liftStreamJoin(spark, dir.toString)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_ssjoin_out")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("graft_ssjoin_out")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      val batch = SparkEntry
        .queries("q_stream_join")(spark, sf)
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("readStream sample_mix selects exactly the batch q_sample_mix rows") {
    val dir = Files.createTempDirectory("graft_stream_mix")
    Files.copy(
      Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // the registry's own body on the document stream
    val q = graft.ops.CurationOps
      .sampleMixOf(StreamOps.docsStream(spark, dir.toString))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_mix_out")
      .start()
    try {
      q.processAllAvailable()
      // the mixture gate is a pure function of the document key, so the
      // streamed selection must equal the batch operator's rows exactly —
      // not just a key set: stateless lift, full-row contract
      val streamed = spark
        .table("graft_mix_out")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      val batch = SparkEntry
        .queries("q_sample_mix")(spark, sf)
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState user totals equal the batch groupBy counts") {
    import spark.implicits._
    val dir = stageEvents()
    // sentinel in a second file/micro-batch pushes the watermark past every
    // real user's timeout, so each user's total is emitted exactly once
    val maxTs = graft.T(spark, sf, "events")
      .agg(max($"ts"))
      .head()
      .getTimestamp(0)
    // sentinel ts in the staged file's wire type: nanos long for
    // nano-generation testdata, a plain timestamp for µs generations
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val sentinelTs: Any =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        (maxTs.getTime + 40L * 24 * 3600 * 1000) * 1000000L
      else new java.sql.Timestamp(maxTs.getTime + 40L * 24 * 3600 * 1000)
    val sentinel = spark
      .createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(-1L, sentinelTs, -1L, "sentinel", 0.0d, "{}")),
        schema)
    Thread.sleep(5) // distinct mtime so the sentinel file sorts later
    sentinel.coalesce(1).write.mode("append").parquet(dir.toString)
    val q = StreamOps
      .liftUserTotals(spark, dir.toString, Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_totals_out")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("graft_totals_out")
        .filter($"user_id" =!= -1L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sorted
        .toSeq
      val batch = graft
        .T(spark, sf, "events")
        .groupBy($"user_id")
        .count()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sorted
        .toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("readStream session_window equals the batch session_window result") {
    import spark.implicits._
    val dir = stageEvents()
    // Sentinel event far past the data (plus the 7-day watermark delay) in
    // a SECOND file: with maxFilesPerTrigger=1 it arrives in a later
    // micro-batch, pushes the watermark past every real session's close,
    // and append mode then emits them all.
    val maxTs = graft.T(spark, sf, "events")
      .agg(max($"ts"))
      .head()
      .getTimestamp(0)
    // sentinel ts in the staged file's wire type: nanos long for
    // nano-generation testdata, a plain timestamp for µs generations
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val sentinelTs: Any =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        (maxTs.getTime + 40L * 24 * 3600 * 1000) * 1000000L
      else new java.sql.Timestamp(maxTs.getTime + 40L * 24 * 3600 * 1000)
    val sentinel = spark
      .createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(-1L, sentinelTs, -1L, "sentinel", 0.0d, "{}")),
        schema)
    Thread.sleep(5) // distinct mtime so the sentinel file sorts later
    sentinel.coalesce(1).write.mode("append").parquet(dir.toString)

    val q = StreamOps
      .liftSession(spark, dir.toString, Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_session_out")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("graft_session_out")
        .filter($"user_id" =!= -1L)
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      val batch = StreamOps
        .sessionWindowAgg(graft.T(spark, sf, "events"))
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }
}
