package graft

import java.nio.file.{Files, Paths}

import graft.ops.{Sinks, StreamOps}
import org.apache.spark.sql.functions._

/** The streaming CDC-apply: an UPDATE-mode change feed (per-user running
  * counts) maintained into a keyed JDBC dimension via
  * [[Sinks.upsertSnapshotSwapJdbc]]. Three contracts:
  *
  *   1. batch upsert semantics — staged rows replace matched keys, keep
  *      unmatched, insert new, and re-applying the same batch converges;
  *   2. across micro-batches the sink row is UPDATED IN PLACE (the key
  *      count rises), never duplicated;
  *   3. a full reprocess from a fresh checkpoint converges to the same
  *      table — the exactly-once story for an update sink.
  */
class StreamingUpsertSpec extends SparkSpec {

  private val props = new java.util.Properties

  test("swap upsert replaces, keeps, inserts, idempotently") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft_ups_db").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "n")
      .write.jdbc(url, "dim", props)
    val staged = Seq((2L, 25L), (4L, 40L)).toDF("k", "n")
    Sinks.upsertSnapshotSwapJdbc(staged, url, "dim", Seq("k"), props)
    def table() = spark.read.jdbc(url, "dim", props)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 10L, 2L -> 25L, 3L -> 30L, 4L -> 40L)
    assert(table() == expect)
    // idempotent: same staged batch again converges, no duplicates
    Sinks.upsertSnapshotSwapJdbc(staged, url, "dim", Seq("k"), props)
    assert(table() == expect)
  }

  test("update-mode stream upserts rows in place across micro-batches and reruns") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_ups_src")
    val db = Files.createTempDirectory("graft_ups_db2").resolve("db")
    val url = s"jdbc:derby:$db;create=true"

    // two halves of the events table staged as separate RAW files (ts as
    // raw nanos longs, the wire format eventsStream expects) so the same
    // user's count must RISE across micro-batches (update, not append);
    // the session-wide nanos flag is restored in the finally below so no
    // other suite inherits it by test order
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosPrev = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    try {
    val raw = spark.read.parquet(s"$sf/events.parquet")

    def stage(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_ups_stage").toString
      raw.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, srcDir.resolve(name))
    }

    def runStream(): Unit = {
      val q = StreamOps
        .upsertStreamWriter(
          StreamOps.liftUserCounts(
            spark, srcDir.toString,
            Map("maxFilesPerTrigger" -> "1")),
          url, "user_counts", Seq("user_id"),
          Files.createTempDirectory("graft_ups_ckpt").toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    stage($"event_id" % 2 === 0, "events.parquet")
    runStream()
    val after1 = spark.read.jdbc(url, "user_counts", props)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    stage($"event_id" % 2 === 1, "events2.parquet")
    runStream()
    val after2 = spark.read.jdbc(url, "user_counts", props)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // convergence: the sink equals the batch groupBy over ALL events
    val batch = T(spark, sf, "events").groupBy($"user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after2 == batch)
    // in-place update: some user present in both halves rose, none fell,
    // and the key set only grew
    assert(after1.keySet.subsetOf(after2.keySet))
    assert(after1.exists { case (k, n) => after2(k) > n })
    assert(after1.forall { case (k, n) => after2(k) >= n })

    // fresh checkpoint = full reprocess: converges to the same table
    runStream()
    val after3 = spark.read.jdbc(url, "user_counts", props)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after3 == batch)
    } finally {
      nanosPrev match {
        case Some(v) => spark.conf.set(nanosKey, v)
        case None => spark.conf.unset(nanosKey)
      }
    }
  }
}
