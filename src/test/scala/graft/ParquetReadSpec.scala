package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkThrowable
import org.apache.spark.graftaccess.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The read seam [[T.parquet]]: it hands `spark.read.parquet` the schema
  * Spark would infer, read from the same footer on the driver, so opening
  * a table submits no Spark job. Pinned here: the schema equals Spark's
  * inference on every layout the engine reads (single files, Spark-written
  * part directories, hive-partitioned directories, several paths at once,
  * summary files), opening submits 0 jobs against inference's 1, and the
  * no-file cases raise Spark's own error.
  */
class ParquetReadSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** events as a Spark job writes it: part files, `_SUCCESS`, `.crc`s. */
  private lazy val multipart: String = {
    val p = tmp("graft_seam_parts")
    T(spark, sf, "events").repartition(3).write.mode("overwrite").parquet(p)
    p
  }

  /** events hive-partitioned two levels deep. */
  private lazy val partitioned: String = {
    val p = tmp("graft_seam_hive")
    T(spark, sf, "events")
      .withColumn("d", to_date(col("ts")))
      .write
      .mode("overwrite")
      .partitionBy("event_type", "d")
      .parquet(p)
    p
  }

  private def assertSameSchema(paths: String*): Unit = {
    val want = spark.read.parquet(paths: _*).schema
    val got = T.parquet(spark, paths: _*).schema
    assert(got == want, s"seam schema differs on ${paths.mkString(", ")}")
  }

  test("seam schema equals Spark's inferred schema on every sf0.001 table") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length == 10, tables.mkString(", "))
    tables.foreach(t => assertSameSchema(s"$sf/$t"))
  }

  test("seam schema equals Spark's on part-file and hive-partitioned directories") {
    assertSameSchema(multipart)
    assertSameSchema(partitioned)
    val cols = T.parquet(spark, partitioned).columns
    assert(cols.takeRight(2).toSeq == Seq("event_type", "d"), cols.mkString(", "))
    assert(T.parquet(spark, partitioned).count() == T(spark, sf, "events").count())
  }

  test("several paths: the footer is the first file by path, not by argument order") {
    // the raw sf file and the Spark-written copy differ in schema
    // (nullability, timestamp encoding): inference takes the first file
    // in path order, whichever argument it came from
    assertSameSchema(s"$sf/events.parquet", multipart)
    assertSameSchema(multipart, s"$sf/events.parquet")
    assertSameSchema(s"$sf/region.parquet", s"$sf/nation.parquet")
  }

  test("a _common_metadata summary wins over the data files, as in inference") {
    val p = tmp("graft_seam_summary")
    spark.conf.set("parquet.summary.metadata.level", "ALL")
    try T(spark, sf, "region").write.mode("overwrite").parquet(p)
    finally spark.conf.unset("parquet.summary.metadata.level")
    assert(Files.exists(Paths.get(p, "_common_metadata")), "no summary file written")
    // a data file of another schema that sorts before every part file
    val other = tmp("graft_seam_other")
    T(spark, sf, "nation").coalesce(1).write.mode("overwrite").parquet(other)
    val part = new java.io.File(other).listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, Paths.get(p, "a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(spark.read.parquet(p).columns.contains("r_regionkey"))
    assertSameSchema(p)
  }

  test("opening a table through T submits no Spark job; inference submits one") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(open: => Any): Int = {
      ListenerDrain.drain(spark.sparkContext, 60000)
      jobs.set(0)
      open
      ListenerDrain.drain(spark.sparkContext, 60000)
      jobs.get
    }
    val dir = multipart
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf(spark.read.parquet(s"$sf/events.parquet").schema) == 1)
      assert(jobsOf(T(spark, sf, "events").schema) == 0)
      assert(jobsOf(T(spark, sf, "lineitem").schema) == 0)
      assert(jobsOf(T.parquet(spark, dir).schema) == 0)
      assert(jobsOf(T.parquet(spark, partitioned).schema) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a missing path or a directory without data raises Spark's own error") {
    val empty = tmp("graft_seam_empty")
    val onlyMarker = tmp("graft_seam_marker")
    Files.createFile(Paths.get(onlyMarker, "_SUCCESS"))
    val cases = Seq(
      Seq(s"$empty/missing.parquet"),
      Seq(empty),
      Seq(onlyMarker),
      Seq(s"$sf/region.parquet", s"$empty/missing.parquet"))
    cases.foreach { paths =>
      val want = intercept[Throwable](spark.read.parquet(paths: _*))
      val got = intercept[Throwable](T.parquet(spark, paths: _*))
      assert(got.getClass == want.getClass, s"$paths: ${got.getClass} vs ${want.getClass}")
      val (gc, wc) =
        (got.asInstanceOf[SparkThrowable].getCondition, want.asInstanceOf[SparkThrowable].getCondition)
      assert(gc == wc && wc != null, s"$paths: $gc vs $wc")
    }
  }
}
