package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.ops.StreamOps
import org.apache.spark.sql.functions._

/** The streaming lift (SURVEY §0: the reference's run loop IS a micro-batch
  * stream): the tumbling-day report computed by Structured Streaming over
  * the same events must equal the batch q_stream_tumble report, every
  * column — the lift runs the registry's own body.
  */
class StreamingLiftSpec extends SparkSpec {

  private def stage(): java.nio.file.Path = {
    // file streaming source wants a directory
    val dir = Files.createTempDirectory("graft_stream")
    Files.copy(
      Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("readStream tumbling-window report equals the batch result") {
    val q = StreamOps
      .liftTumble(spark, stage().toString)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("graft_stream_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("graft_stream_out")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      val batch = SparkEntry
        .queries("q_stream_tumble")(spark, sf)
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("readStream sliding-window counts equal the batch q_stream_slide counts") {
    val q = StreamOps
      .liftSlide(spark, stage().toString)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("graft_slide_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .table("graft_slide_out")
        .select("win_start", "n")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      val batch = SparkEntry
        .queries("q_stream_slide")(spark, sf)
        .select("win_start", "n")
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
