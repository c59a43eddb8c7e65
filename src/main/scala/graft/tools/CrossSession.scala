package graft.tools

import graft.SparkEntry
import graft.index.GenLog
import org.apache.spark.sql.SparkSession

/** Cross-session durable-root proof harness, driven by DurableRootSpec:
  * each invocation is its OWN JVM + SparkSession pointed at a shared
  * durable warehouse root (`spark.graft.index.root`) — the deployment
  * story of the index catalog: builds amortize ACROSS sessions because
  * catalog state is entirely committed filesystem artifacts, never
  * driver memory.
  *
  * args: `<phase> <warehouseRoot> <sfDir> <outDir>`
  *
  * Phase `build`: runs the served queries, building their indexes under
  * the root. Phase `serve` (a FRESH JVM): runs the same queries — every
  * one must skip its build and answer from the previous session's
  * committed bytes. Both phases dump results to parquet and print one
  * `[cross]` line with the process-wide build/skip counters; the spec
  * compares dumps across the session boundary and asserts `builds=0` in
  * `serve`.
  */
object CrossSession {
  private val Served = Seq("q_sim_served", "q_index_bm25_served")

  def main(args: Array[String]): Unit = {
    val Array(phase, root, sfDir, outDir) = args
    if (phase == "claim") { claimRace(root, sfDir, outDir); return }
    if (phase == "stall") { stall(root); return }
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-cross-$phase")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(GenLog.RootKey, root)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    Served.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/${phase}_$n")
    }

    println(
      s"[cross] phase=$phase builds=${GenLog.buildsRun.get()} " +
        s"skips=${GenLog.buildsSkipped.get()}")
    spark.stop()
  }

  /** A claimant that wins the lease and then hangs forever — the spec
    * kill -9s this process mid-build to create a REAL crash orphan
    * (claim on disk, no marker, owner dead) and proves the TTL recovery
    * against it.
    */
  private def stall(root: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-cross-stall")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GenLog.buildOnce(spark, s"$root/racekey") {
      println("[cross] phase=stall claimed=1")
      Console.out.flush()
      Thread.sleep(600000)
    }
    ()
  }

  /** Cross-PROCESS claim race (driven by DurableRootSpec): two of these
    * JVMs start concurrently against the same key under one root; the
    * claim lease is a filesystem primitive, so exactly one process may
    * run the (deliberately slow) build. Each prints whether ITS build
    * ran; the spec asserts the sum is exactly 1 and both serve the same
    * committed bytes. The TTL is pinned 4× BELOW the build's sleep, so
    * the assertion is simultaneously the cross-process HEARTBEAT proof:
    * without the winner's liveness touches the loser JVM would reclaim
    * the "stale" claim mid-build and the built-sum would be 2.
    */
  private def claimRace(root: String, sfDir: String, outDir: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-cross-claim")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(GenLog.ClaimTtlKey, "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val key = s"$root/racekey"
    val ran = GenLog.buildOnce(spark, key) {
      // widen the race window past process startup skew AND outlive the
      // 2s claim TTL 4x — only the heartbeat keeps the lease alive
      Thread.sleep(8000)
      graft.T(spark, sfDir, "embeddings")
        .limit(500)
        .write.mode("overwrite").parquet(key)
    }
    val n = spark.read.parquet(key).count()
    println(s"[cross] phase=claim built=${if (ran) 1 else 0} served=$n")
    spark.stop()
  }
}
