package graft

import java.nio.file.Files

import graft.ops.{DedupOps, StreamOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous incremental embedding dedup
  * ([[StreamOps.incrEmbedDedupStreamWriter]]): the union of per-batch
  * pair outputs must equal the one-shot full rebuild's pair set minus
  * base-internal pairs — every pair whose larger id arrived on the
  * stream, including a pair whose two sides arrive in DIFFERENT
  * micro-batches (the appended index is what makes the later side find
  * the earlier one).
  */
class StreamingEmbedIncrSpec extends SparkSpec {

  private val Dim = 64

  private def vec(d: Int, jitter: Int): Seq[Float] =
    (0 until Dim).map { i =>
      val base = math.sin(d * 37.0 + i * 1.7)
      (base + 0.001 * jitter * math.cos(i * 2.3)).toFloat
    }

  private def frame(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private lazy val base = frame(Seq(
    0L -> vec(1, 0),
    1L -> vec(2, 0)))
  private lazy val batch1 = frame(Seq(
    100L -> vec(1, 1), // near base 0
    101L -> vec(6, 0))) // fresh direction F
  private lazy val batch2 = frame(Seq(
    200L -> vec(6, 1), // near batch-1's 101 — CROSS-BATCH pair
    201L -> vec(2, 1))) // near base 1

  private def stage(): String = {
    val dir = Files.createTempDirectory("graft_embed_stream").toString
    batch1.coalesce(1).write.parquet(s"$dir/b1")
    batch2.coalesce(1).write.parquet(s"$dir/b2")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def part(sub: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/feed"))
    fs.rename(part("b1"), new org.apache.hadoop.fs.Path(s"$dir/feed/b1.parquet"))
    fs.rename(part("b2"), new org.apache.hadoop.fs.Path(s"$dir/feed/b2.parquet"))
    new java.io.File(s"$dir/feed/b1.parquet").setLastModified(1000000L)
    new java.io.File(s"$dir/feed/b2.parquet").setLastModified(2000000L)
    dir
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cross-batch pair union equals the one-shot rebuild") {
    import spark.implicits._
    val dir = stage()
    val indexDir = Files.createTempDirectory("graft_embed_idx").toString
    StreamOps.EmbedBandFamily.seed(spark, base, indexDir)
    val q = StreamOps
      .incrEmbedDedupStreamWriter(
        spark.readStream
          .schema(batch1.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/feed"),
        indexDir,
        Files.createTempDirectory("graft_embed_ckpt").toString)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // every committed per-batch pair output
    def committed() =
      pairs(graft.index.GenLog.read(spark, StreamOps.logPaths(spark, indexDir, "pairs")))
    val got = committed()
    val all = base.unionByName(batch1).unionByName(batch2)
    val full = pairs(DedupOps.verifyCosinePairsFrom(
      all.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2")),
      DedupOps.embBandedCandidates(all)))
    assert(got === full.filter(_._2 >= 100L))
    assert(got.contains((101L, 200L)),
      s"cross-batch pair found through the appended index: $got")
    assert(got.contains((0L, 100L)) && got.contains((1L, 201L)), got.toString)

    // O(batch) commits: each batch writes only its own band rows
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$p"))
    assert(!exists("v1/full") && !exists("v2/full"),
      "batches must not rewrite the full index")
    assert(spark.read.parquet(s"$indexDir/v1/gen")
      .select("vec_id").distinct().count() === 2, "batch-1 rows only")

    // maintenance: compaction folds the generations into a full snapshot
    // — committed pairs never move
    StreamOps.EmbedBandFamily.compact(spark, indexDir)
    // grace contract: folded increments are tombstoned first (files
    // intact for readers that resolved pre-fold), deleted a compaction
    // later
    assert(exists("v2/full"))
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(exists(s"$v/${graft.index.GenLog.Superseded}"), v)
    StreamOps.EmbedBandFamily.compact(spark, indexDir)
    assert(!exists("v1/gen") && !exists("v2/gen"))
    assert(committed() === got,
      "maintenance must never touch committed per-batch outputs")
    val latest = spark.read.parquet(s"$indexDir/v2/full")
    assert(latest.count() > 0, "newest index snapshot survives compaction")
  }
}
