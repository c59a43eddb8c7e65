package graft

import java.nio.file.Files

import graft.ops.{DedupOps, StreamOps}
import org.apache.spark.sql.DataFrame

/** Continuous incremental dedup ([[StreamOps.incrDedupStreamWriter]]):
  * micro-batched apply with APPEND-ONLY index commits must produce,
  * across all batches, exactly the assignment a one-shot full rebuild
  * over base ∪ deltas gives the delta rows — including the effects only
  * index maintenance + the remap log can deliver:
  *
  *  - content first seen in batch k is matchable in batch k+1 (exact md5
  *    path against the appended group, near path against appended bands);
  *  - a batch doc bridges two base clusters → the merge lands in the
  *    remap log and earlier-committed assignments READ BACK with the
  *    surviving label;
  *  - a later batch merges an EARLIER BATCH's own cluster into a base
  *    cluster (the divergent case a snapshot-only design gets wrong);
  *  - remaps CHAIN across batches (5→3 in batch 1, 3→1 in batch 2) and
  *    readers compose them transitively.
  *
  * Plus the scale contract: each batch commits an O(batch) generation
  * (exact row counts asserted — never a corpus rewrite), compaction
  * folds them into a full snapshot without changing any read, and the
  * stream resumes correctly from a compacted index. And the
  * exactly-once shape: versioned dirs, deterministic under a fresh
  * checkpoint + fresh index rerun.
  */
class StreamingIncrDedupSpec extends SparkSpec {

  // token families: z* (the chain-merge family), m* (the batch-cluster
  // family), g* (untouched control)
  private def z(is: Seq[Int]) = is.map(i => f"zeta$i%02d").mkString(" ")
  private def m(is: Seq[Int]) = is.map(i => f"mu$i%02d").mkString(" ")
  private val G = (0 until 10).map(i => f"gamma$i%02d").mkString(" ")
  private val F = "fresh unrelated delta content words entirely alone here"

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, "en", t, "synthetic", t.length.toLong) }
      .toDF("doc_id", "lang", "text", "source", "n_chars")
  }

  // J(T1,T3) = J(T3,T5) = 16/20 = 0.8 — separate until bridged
  private lazy val base = frame(Seq(
    1L -> z(0 until 18), // T1
    3L -> z(2 until 20), // T3
    5L -> z(4 until 22), // T5
    9L -> m(0 until 18), // M1
    11L -> G))
  // U1 = z02..z21: J=0.9 to BOTH T3 and T5 -> merges {3,5} -> remap 5→3
  // Q  = m02..m19: J(Q,M1) = 0.8 -> NEW batch cluster 102
  private lazy val batch1 = frame(Seq(
    101L -> z(2 until 22),
    102L -> m(2 until 20),
    103L -> F))
  // U2 = z00..z19: J=0.9 to T1 and T3 -> merges {1,3} -> remap 3→1 (chain!)
  // WB = m00..m19: J=0.9 to M1 AND batch-1's Q -> merges {9,102} -> remap
  //      102→9: batch-1's committed label 102 must READ BACK as 9
  private lazy val batch2 = frame(Seq(
    200L -> z(0 until 20),
    201L -> m(0 until 20),
    202L -> F, // exact md5 match to batch-1 content -> 103
    203L -> G)) // exact match to base content, untouched by the churn -> 11
  // post-compaction: exact text of T5 (md5 group committed under 5,
  // resolved 5→3→1 by the folded remaps) and a near match to batch-2
  // content through the compacted snapshot
  private lazy val batch3 = frame(Seq(
    300L -> z(4 until 22),
    301L -> z((0 until 16) ++ (18 until 20))))

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

  private def stageSource(): String = {
    val dir = Files.createTempDirectory("graft_incr_src").toString
    // one parquet FILE per micro-batch, ordered: the file source picks
    // oldest-modified first and maxFilesPerTrigger=1 splits the triggers
    stageFile(dir, batch1, "batch1", 1000000L)
    stageFile(dir, batch2, "batch2", 2000000L)
    dir
  }

  private def runStream(srcDir: String, indexDir: String, ckpt: String): Map[Long, Long] = {
    val q = StreamOps
      .incrDedupStreamWriter(
        StreamOps.docsStream(
          spark, s"$srcDir/documents.parquet", Map("maxFilesPerTrigger" -> "1")),
        indexDir,
        ckpt)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    StreamOps
      .readDedupAssignments(spark, indexDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  private def fullWant(dfs: Seq[DataFrame]): Map[Long, Long] = DedupOps
    .fullAssign(
      spark,
      dfs.reduce(_ unionByName _).select("doc_id", "lang", "text"))
    .collect()
    .map(r => r.getLong(0) -> r.getLong(1))
    .filter(_._1 >= 100L)
    .toMap

  test("append-only micro-batch chain equals the one-shot full rebuild") {
    val src = stageSource()
    val indexDir = Files.createTempDirectory("graft_incr_idx").toString
    val ckpt = Files.createTempDirectory("graft_incr_ckpt").toString
    StreamOps.NearDupFamily.seed(spark, base.select("doc_id", "lang", "text"), indexDir)
    val got = runStream(src, indexDir, ckpt)
    assert(got === fullWant(Seq(base, batch1, batch2)))
    // the effects only index maintenance + the remap log can produce:
    assert(got(202L) === 103L, "batch-2 exact match to batch-1 content")
    assert(got(101L) === 1L,
      "batch-1 doc committed with label 3, resolved through the 3→1 remap")
    assert(got(102L) === 9L,
      "batch-1's OWN cluster 102 merged into base 9 by a batch-2 bridge " +
        "(stale without a persisted remap log)")
    assert(got(201L) === 9L, "the bridge doc itself")
    assert(got(203L) === 11L, "base content untouched by the churn keeps its label")

    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$p"))
    def rows(p: String) = spark.read.parquet(s"$indexDir/$p").count()

    // O(batch) commits: generations only — exactly (unmatched reps × 2
    // bands) band rows and (new md5 groups) rows; never a snapshot
    assert(!exists("v1/full") && !exists("v2/full"),
      "batches must not rewrite the full index")
    assert(rows("v1/gen/band") === 3 * 2, "batch-1: U1, Q, F bands only")
    assert(rows("v1/gen/md5") === 3)
    assert(rows("v2/gen/band") === 2 * 2, "batch-2: U2, WB bands only (202/203 are md5 hits)")
    assert(rows("v2/gen/md5") === 2)
    // the persisted remap log carries exactly the merges
    def remaps(p: String) = spark.read.parquet(s"$indexDir/$p")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(remaps("v1/remap") === Set(5L -> 3L))
    assert(remaps("v2/remap") === Set(3L -> 1L, 102L -> 9L))

    // compaction folds generations into a full snapshot; no read changes
    StreamOps.NearDupFamily.compact(spark, indexDir)
    assert(exists("v2/full/band") && exists("v2/full/md5"))
    // grace contract: folded generations are tombstoned first (files
    // intact for readers that resolved pre-fold), deleted a compaction
    // later
    for (v <- Seq("v1/gen", "v2/gen"))
      assert(exists(s"$v/${graft.index.GenLog.Superseded}"), v)
    StreamOps.NearDupFamily.compact(spark, indexDir)
    assert(!exists("v1/gen") && !exists("v2/gen"))
    assert(exists("v1/remap") && exists("v1/assign"), "assign/remap dirs are permanent")
    val afterCompact = StreamOps
      .readDedupAssignments(spark, indexDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(afterCompact === got)
    // the folded snapshot carries RESOLVED labels (5→3→1 composed)
    val md5Labels = spark.read.parquet(s"$indexDir/v2/full/md5")
      .collect().map(r => r.getAs[Long]("cluster_id")).toSet
    assert(!md5Labels.contains(5L) && !md5Labels.contains(3L) && !md5Labels.contains(102L),
      s"dead labels must not survive compaction: $md5Labels")

    // the stream resumes from the compacted snapshot (same checkpoint)
    stageFile(src, batch3, "batch3", 3000000L)
    val resumed = runStream(src, indexDir, ckpt)
    assert(resumed === fullWant(Seq(base, batch1, batch2, batch3)))
    assert(resumed(300L) === 1L,
      "exact md5 probe of a group committed under 5: compaction folded 5→3→1")
    assert(resumed(301L) === 1L, "near probe through the compacted bands")
  }

  test("fresh checkpoint + fresh index rerun reproduces the assignment exactly") {
    val src = stageSource()
    def run(): Map[Long, Long] = {
      val idx = Files.createTempDirectory("graft_incr_idx").toString
      StreamOps.NearDupFamily.seed(spark, base.select("doc_id", "lang", "text"), idx)
      runStream(src, idx, Files.createTempDirectory("graft_incr_ckpt").toString)
    }
    val first = run()
    val second = run()
    assert(first === second)
    assert(first.nonEmpty)
  }
}
