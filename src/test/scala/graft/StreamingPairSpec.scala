package graft

import java.nio.file.Files

import graft.ops.{DedupOps, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained PAIR-GRAPH family (the q_dedup_cc_incr state):
  * [[StreamOps.dedupStateSeed]] seeds the base corpus's full assignment +
  * verified rep-level pair set alongside the md5/band index, and each
  * [[StreamOps.incrDedupCommit]] appends the batch's O(batch) verified
  * pairs next to its assign/remap log and index generation. Three
  * contracts on a chain that exercises exact-dup collapse, cross-batch
  * near matches, base-cluster bridges, and a two-hop remap:
  *
  *  1. FULL-VIEW identity: the remap-forest serve
  *     ([[StreamOps.readDedupAssignments]], now covering the base via
  *     v0/assign) with cluster sizes equals the one-shot full rebuild
  *     ([[DedupOps.fullAssign]]) over base ∪ all batches — the
  *     q_dedup_cc_incr registry contract (also hash-gated vs the
  *     recursive-CTE oracle every round).
  *  2. PAIR-STATE closure identity: [[StreamOps.ccFromPairState]] —
  *     min-label closure over the union of committed pair generations
  *     with docs attached at their AS-OF-COMMIT labels, remap log
  *     deliberately unused — reproduces the same assignment. This is
  *     what proves the persisted pairs carry the whole component
  *     structure (a rank/centrality consumer can ride them without the
  *     banded-Jaccard lineage).
  *  3. O(batch) boundedness: each generation's pairs dir holds exactly
  *     the batch's verified edges (asserted counts), never a corpus
  *     rewrite; compaction folds the index generations but leaves the
  *     pair log (with assign/remap) untouched, and reads are unchanged.
  */
class StreamingPairSpec extends SparkSpec {

  private def z(is: Seq[Int]) = is.map(i => f"zeta$i%02d").mkString(" ")
  private def m(is: Seq[Int]) = is.map(i => f"mu$i%02d").mkString(" ")
  private val G = (0 until 10).map(i => f"gamma$i%02d").mkString(" ")
  private val F = "fresh unrelated delta content words entirely alone here"

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text")
  }

  private def y(is: Seq[Int]) = is.map(i => f"ypsilon$i%02d").mkString(" ")

  // base: T1-T3-T5 a J=0.8 chain (separate until bridged), M1, control
  // G, an exact-dup group {11, 12} collapsing to rep 11, and a genuine
  // base NEAR-dup pair {7, 8} at J = 18/20 = 0.9 so the seed's verified
  // pair generation is non-empty
  private lazy val base = frame(Seq(
    1L -> z(0 until 18),
    3L -> z(2 until 20),
    5L -> z(4 until 22),
    7L -> y(0 until 18),
    8L -> y(0 until 20),
    9L -> m(0 until 18),
    11L -> G,
    12L -> G))
  // U1 bridges {3,5} (remap 5→3); Q pairs M1 into new batch cluster 102
  private lazy val batch1 = frame(Seq(
    101L -> z(2 until 22),
    102L -> m(2 until 20),
    103L -> F))
  // U2 bridges {1,3} (remap 3→1 — chains with 5→3); WB merges batch-1's
  // own cluster 102 into base 9; 202 md5-matches batch-1 content; 203
  // md5-matches the base exact-dup group
  private lazy val batch2 = frame(Seq(
    200L -> z(0 until 20),
    201L -> m(0 until 20),
    202L -> F,
    203L -> G))

  private def sizedView(indexDir: String): Map[Long, (Long, Long)] =
    StreamOps.readDedupAssignments(spark, indexDir)
      .withColumn(
        "cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Long]("cluster_size")))
      .toMap

  private def rebuildWant(): Map[Long, (Long, Long)] = {
    val a = DedupOps.fullAssign(
      spark,
      Seq(base, batch1, batch2).reduce(_ unionByName _))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val sizes = a.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    a.map { case (d, c) => d -> (c, sizes(c)) }.toMap
  }

  private def seedState(indexDir: String): Unit =
    StreamOps.NearDupFamily.seedWith(spark, indexDir)(
      StreamOps.dedupStateSeed(spark, base, indexDir))

  test("pair-graph family: full-view identity, pair-state closure identity, O(batch) pair log") {
    val indexDir = Files.createTempDirectory("graft_pair_idx").toString
    seedState(indexDir)
    StreamOps.incrDedupCommit(batch1, indexDir, batchId = 0L)
    StreamOps.incrDedupCommit(batch2, indexDir, batchId = 1L)

    val want = rebuildWant()
    assert(sizedView(indexDir) === want, "remap-forest serve != one-shot rebuild")

    // the chain's interesting labels, explicitly
    val labels = want.view.mapValues(_._1).toMap
    assert(labels(101L) === 1L, "batch-1 doc through the 3->1 remap chain")
    assert(labels(102L) === 9L, "batch-1's own cluster merged by a batch-2 bridge")
    assert(labels(202L) === 103L, "batch-2 exact match to batch-1 content")
    assert(labels(203L) === 11L, "exact match into the base md5 group")
    assert(labels(12L) === 11L, "base exact-dup member inherits its rep's label")

    // pair-state closure: committed pair generations + as-of-commit
    // attachments close to the same assignment WITHOUT the remap log
    val viaPairs = StreamOps.ccFromPairState(spark, indexDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(viaPairs === labels, "pair-state closure != remap-forest serve")

    // O(batch) pair log: each generation holds exactly its verified
    // edges — never a corpus rewrite. v0: the one base near-dup pair
    // (7, 8); the zeta chain sits at J = 0.8 < θ. v1: U1's two cluster
    // attachments (→3, →5); Q and F pair nothing (J(Q, M1) = 0.8).
    // v2: U2→1, U2→3, WB→9, WB→102, plus the two md5 attachments
    // 202→103 and 203→11.
    def pairRows(v: String) =
      spark.read.parquet(s"$indexDir/$v/pairs").count()
    assert(pairRows("v0") === 1L, "base verified rep pairs")
    assert(pairRows("v1") === 2L, "batch-1 verified edges")
    assert(pairRows("v2") === 6L, "batch-2 verified edges")

    // compaction folds index increments, leaves the pair log + reads
    StreamOps.NearDupFamily.compact(spark, indexDir)
    StreamOps.NearDupFamily.compact(spark, indexDir)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$p"))
    assert(exists("v0/pairs") && exists("v1/pairs") && exists("v2/pairs"),
      "pair generations are permanent log, never folded")
    assert(!exists("v1/gen"), "index generations fold away")
    assert(sizedView(indexDir) === want, "compaction changed a read")
    assert(
      StreamOps.ccFromPairState(spark, indexDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === labels,
      "pair-state closure changed after compaction")
  }

  test("idempotent apply: re-committing the same batch rewrites identical state") {
    val indexDir = Files.createTempDirectory("graft_pair_idem").toString
    seedState(indexDir)
    StreamOps.incrDedupCommit(batch1, indexDir, batchId = 0L)
    val first = sizedView(indexDir)
    StreamOps.incrDedupCommit(batch1, indexDir, batchId = 0L) // retry shape
    assert(sizedView(indexDir) === first)
  }
}
