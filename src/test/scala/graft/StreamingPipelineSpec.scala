package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.ops.{Sinks, StreamOps}
import org.apache.spark.sql.DataFrame

/** The reference's full run loop (extract → transform → aggregate → sink,
  * main.py:421-453) as ONE streaming job: readStream events → tumbling-day
  * report → foreachBatch → idempotent keyed JDBC append. The contract under
  * test is the crash-replay story: re-running the whole stream from a fresh
  * checkpoint (the worst-case reprocess) re-offers every row to the sink
  * and the keyed anti-join drops them all — exactly the reference's
  * ON CONFLICT DO NOTHING across its 7-day overlapping re-extract.
  */
class StreamingPipelineSpec extends SparkSpec {

  test("stream → foreachBatch → idempotent JDBC sink: full rerun adds no rows") {
    val srcDir = Files.createTempDirectory("graft_pipe_src")
    Files.copy(
      Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val db = Files.createTempDirectory("graft_pipe_db").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties

    def runPipeline(): Unit = {
      val q = StreamOps
        .liftTumble(spark, srcDir.toString)
        .writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Sinks.idempotentAppendJdbc(
            batch, url, "daily_report", Seq("win_start", "event_type"))
        }
        .option(
          "checkpointLocation",
          Files.createTempDirectory("graft_pipe_ckpt").toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    runPipeline()
    val first = spark.read.jdbc(url, "daily_report", props).count()
    assert(first > 0)
    // fresh checkpoint = full reprocess: every output row re-offered
    runPipeline()
    val rows = spark.read.jdbc(url, "daily_report", props)
    assert(rows.count() == first, "rerun duplicated sink rows")
    // and what landed is exactly the batch q_stream_tumble report
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
    val landed = rows.collect().map(key).toSet
    val batch = SparkEntry.queries("q_stream_tumble")(spark, sf).collect().map(key).toSet
    assert(landed == batch)
  }
}
