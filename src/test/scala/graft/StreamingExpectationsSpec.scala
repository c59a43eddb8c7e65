package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.ops.{IngestOps, StreamOps}
import org.apache.spark.sql.functions._

/** Streaming row-level expectations ([[StreamOps.liftExpectations]]):
  * the at-ingest quarantine verdicts come from the same
  * [[IngestOps.RowRules]] list the batch q_expect_constraints sums —
  * planted dirt rows (null key, bad domain, negative value, and a
  * doubly-violating row) each carry exactly their violation list, clean
  * testdata rows carry none, and per rule the stream's count over the
  * testdata rows is the registry's count less its one planted row.
  */
class StreamingExpectationsSpec extends SparkSpec {

  private def stage(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_expect_stream")
    Files.copy(
      Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // dirt in the RAW wire shape of the staged file: ts as nanos long for
    // nano-generation testdata, as a plain timestamp for µs generations
    // (eventsStream branches on the same raw-schema probe)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    try {
      val rawIsNanoLong = spark.read.parquet(s"$sf/events.parquet")
        .schema("ts").dataType == org.apache.spark.sql.types.LongType
      val dirt =
        if (rawIsNanoLong) {
          val tsNanos = spark.read.parquet(s"$sf/events.parquet")
            .agg(max($"ts")).head().getLong(0)
          Seq(
            (-1L, tsNanos, Option.empty[Long], "click", 1.0d, "{}"),
            (-2L, tsNanos, Option(7L), "hover", 1.0d, "{}"),
            (-3L, tsNanos, Option(7L), "view", -4.0d, "{}"),
            (-4L, tsNanos, Option.empty[Long], "hover", 2.0d, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        } else {
          val tsMax = T(spark, sf, "events").agg(max($"ts")).head().getTimestamp(0)
          Seq(
            (-1L, tsMax, Option.empty[Long], "click", 1.0d, "{}"),
            (-2L, tsMax, Option(7L), "hover", 1.0d, "{}"),
            (-3L, tsMax, Option(7L), "view", -4.0d, "{}"),
            (-4L, tsMax, Option.empty[Long], "hover", 2.0d, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        }
      dirt.coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/dirt")
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$dir/dirt"))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/dirt.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/dirt"), true)
    } finally prev match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None => spark.conf.unset(nanosKey)
    }
    dir.toString
  }

  test("streamed verdicts equal the batch predicates; dirt quarantined, clean passes") {
    import spark.implicits._
    val q = StreamOps
      .liftExpectations(spark, stage())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_expect_out")
      .option(
        "checkpointLocation",
        Files.createTempDirectory("graft_expect_ckpt").toString)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val out = spark.table("graft_expect_out")
    val verdicts = out
      .select($"event_id", concat_ws(",", $"violations").as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val Seq(nullUser, badType, negative) = IngestOps.RowRules.map(_._1)
    assert(verdicts(-1L) === nullUser)
    assert(verdicts(-2L) === badType)
    assert(verdicts(-3L) === negative)
    assert(verdicts(-4L) === s"$nullUser,$badType")
    // the registry audit sums the same rules over the testdata plus one
    // planted violation per rule
    val audit = SparkEntry.queries("q_expect_constraints")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (rule <- Seq(nullUser, badType, negative)) {
      val streamed =
        out.filter($"event_id" >= 0 && array_contains($"violations", rule)).count()
      assert(streamed === audit(rule) - 1, rule)
    }
    // clean testdata rows all pass, and the row count reconciles
    val clean = out.filter(size($"violations") === 0).count()
    val total = T(spark, sf, "events").count()
    assert(clean === total, s"clean=$clean of total=$total")
    assert(out.count() === total + 4)
  }
}
