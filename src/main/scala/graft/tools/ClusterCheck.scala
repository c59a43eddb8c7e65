package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Multi-executor correctness harness, driven by LocalClusterSpec: runs
  * a representative query slice on `local-cluster[2,4,2048]` — Spark's
  * standalone-cluster test mode, where each executor is a SEPARATE JVM
  * process — and dumps the results for the spec to compare against the
  * single-JVM `local[*]` answers.
  *
  * Everything else in the repo runs local[*]: one JVM, so the custom
  * codegen expressions (TokenKernels, DotProduct, PlaneSignBits,
  * CodebookScores), the TopKAgg UDAF, broadcast variables, and task
  * binaries never cross a real serialization boundary there. This main
  * is the cheapest honest way to cross one: local-cluster launches real
  * CoarseGrainedExecutorBackend processes (task bytes, broadcasts, and
  * results all pass through Java/Kryo serialization and the block
  * manager's RPC), while staying inside one host and one filesystem so
  * the run stays CI-bounded.
  *
  * args: `<sfDir> <outDir>`. Prints one `[cluster]` line with the
  * executor-process count (driver excluded — must be 2) and the query
  * count; any query failure exits nonzero.
  */
object ClusterCheck {

  /** The slice: every custom-kernel family that has never crossed an
    * executor boundary — fused token/minhash/simhash kernels, the
    * embedding dot-product and hyperplane-sign expressions, the TopKAgg
    * UDAF, sketch merge, codebook scoring, the md5 passage-gram ladder —
    * plus one served-index path per catalog family (buildOnce + pruned
    * reads under a shared filesystem root) and a broadcast join.
    */
  private[graft] val Queries = Seq(
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_dedup_lsh",
    "q_dedup_embed",
    "q_agg_topk",
    "q_agg_sketch_merge",
    "q_sim_quantized",
    "q_sim_served",
    "q_index_bm25_served",
    "q_join_broadcast",
    "q_text_passage_dup50",
    // round-13 batch 2: the closure kernel (localCheckpoint blocks live
    // on executor block managers; the bounded driver finish collects
    // across RPC) and the LM ladder's decimal aggregation
    "q_dedup_passage_cc",
    "q_lm_bigram_score",
    // round-14: the PQ family's HOF argmin encode + broadcast ADC lookup
    // tables (nested-lambda eval on executors) and the Lloyd trainer's
    // driver-collect/broadcast alternation across real processes
    "q_sim_pq",
    "q_sim_pq_trained",
    // round-16: the q-digest Aggregator pair — its Map[Long,Long] buffer
    // encoder and binary digests cross the executor serialization
    // boundary, and merge-order invariance is exactly what a real
    // multi-process shuffle exercises that local[*] cannot
    "q_agg_quantile_merge")

  /** The composed UNIFIED text+vector feed as a deterministic check
    * program — shared verbatim between the forked local-cluster run and
    * the spec's in-process local[*] reference run, so a row diff can only
    * come from the execution boundary. Drives the streaming side the
    * batch slice above cannot: foreachBatch GenLog commits (heartbeated
    * lease, claim/commit protocol), the in-stream maybeCompact folds, the
    * localCheckpoint batch blocks on executor block managers, the
    * stream-static embedding join, all five vector-family commits from
    * the same micro-batch, then a full day-2 compaction cycle over all
    * thirteen document-fed families plus the events-fed rollup family
    * (the fourteenth) — and returns every served surface, text AND
    * vector AND metric.
    * The pipeline runs with NO external JDBC target (empty url):
    * embedded Derby is one-JVM-only, so the published report is read
    * from the maintained summary family instead.
    */
  private[graft] def runPipeline(
      s: SparkSession,
      sfDir: String,
      work: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.{DataFrame, functions => F}
    import F.{col, lit, max, md5, pmod, row_number, when}
    import graft.ops.{CurationOps, Hashing, StreamOps}
    val all = graft.T(s, sfDir, "documents")
    val mx = all.agg(max(col("doc_id"))).head().getLong(0)
    val cut = mx * 8 / 10
    val c1 = mx * 9 / 10
    // the batch-curated seed: gate ∧ mix, md5 first-writer-wins, split
    // tag — the EndToEndPipelineSpec reference composition
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val bucket = pmod(Hashing.h32(col("doc_id").cast("string")), lit(100L))
    val base = CurationOps
      .qualityGate(all.filter(col("doc_id") <= cut))
      .filter(CurationOps.mixPredicate)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .withColumn(
        "split",
        when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
      .localCheckpoint(true)
    // stage today's feed as two ordered files (mtime drives file order
    // under maxFilesPerTrigger=1 — the StreamingLmSpec idiom)
    val src = s"$work/src/documents.parquet"
    def stageTo(dir: String)(df: DataFrame, name: String, mtime: Long): Unit = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val tmp = s"$work/_stage_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      new java.io.File(s"$dir/$name.parquet").setLastModified(mtime)
    }
    val stage = stageTo(src) _
    stage(all.filter(col("doc_id") > cut && col("doc_id") <= c1), "feed1", 1000000L)
    stage(all.filter(col("doc_id") > c1), "feed2", 2000000L)
    val pipe = StreamOps.UnifiedPipeline(
      StreamOps.CorpusPipeline(
        lakeDir = s"$work/lake",
        dedupIndexDir = s"$work/dedup",
        bm25IndexDir = s"$work/bm25",
        boilerStatsDir = s"$work/boiler",
        passageGramsDir = s"$work/passage",
        bigramStatsDir = s"$work/bigram",
        reportSummaryDir = s"$work/summary",
        jdbcUrl = "",
        reportTable = "",
        phraseIndexDir = s"$work/phrase"),
      StreamOps.VectorPipeline(
        annDir = s"$work/ann",
        quantDir = s"$work/quant",
        ivfDir = s"$work/ivf",
        semDir = s"$work/sem",
        storeDir = s"$work/store"))
    import graft.ops.{SimilarityOps, Vec}
    val emb = graft.T(s, sfDir, "embeddings")
    val cents = emb
      .filter(col("vec_id") < 16)
      .select(
        col("vec_id").as("c_id"), col("embedding").as("c"),
        Vec.norm2(col("embedding")).as("cn2"))
    StreamOps.seedUnifiedPipeline(s, base, emb, cents, pipe)
    val q = StreamOps
      .unifiedPipelineWriter(
        StreamOps.liftUnifiedFeed(s, src, emb, Map("maxFilesPerTrigger" -> "1")),
        pipe,
        s"$work/ckpt")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // the day-2 cycle over all thirteen families, also across the boundary
    StreamOps.compactUnifiedPipeline(s, pipe)
    // the FOURTEENTH family rides its own events feed (rollups are
    // event-metric state, not document state): seed + streamed
    // generations + compaction + serve, all across the same executor
    // boundary. The event_id split deliberately straddles days — the
    // family's exact columns (in-digest mass, countDistinct days) must
    // not depend on generation shape, and both sides of the fork run
    // the identical batch schedule so the serve is row-identical.
    val ev = graft.T(s, sfDir, "events")
    val evMx = ev.agg(max(col("event_id"))).head().getLong(0)
    val evCut = evMx * 8 / 10
    val evC1 = evMx * 9 / 10
    val evSrc = s"$work/evsrc"
    stageTo(evSrc)(
      ev.filter(col("event_id") > evCut && col("event_id") <= evC1),
      "evfeed1", 1000000L)
    stageTo(evSrc)(ev.filter(col("event_id") > evC1), "evfeed2", 2000000L)
    val rollupDir = s"$work/rollup"
    StreamOps.RollupFamily.seed(s, ev.filter(col("event_id") <= evCut), rollupDir)
    val qr = StreamOps.RollupFamily
      .streamWriter(
        StreamOps.eventsStream(s, evSrc, Map("maxFilesPerTrigger" -> "1")),
        rollupDir,
        s"$work/ckpt_rollup")
      .start()
    try qr.processAllAvailable()
    finally qr.stop()
    StreamOps.RollupFamily.compact(s, rollupDir)
    // deterministic vector probes, derived from the static table the same
    // way on both sides of the fork
    val e = emb.select(
      col("vec_id"), col("embedding"), Vec.norm2(col("embedding")).as("n2"))
    val annProbes = e
      .withColumn("bucket", SimilarityOps.bucketCol)
      .filter(col("vec_id") < 5)
      .select(
        col("vec_id").as("probe_id"), col("embedding").as("p"),
        col("n2").as("pn2"),
        F.explode(F.array(
          col("bucket") +: (0 until SimilarityOps.SignBits)
            .map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
    Seq(
      "lake" -> s.read.parquet(pipe.corpus.lakeDir)
        .select("doc_id", "lang", "source", "n_chars", "split"),
      "dedup" -> StreamOps.readDedupAssignments(s, pipe.corpus.dedupIndexDir),
      // the pair-graph family's two serves (r18): the remap-forest view
      // above, and the closure over the persisted verified pair
      // generations with as-of-commit attachments — both across the
      // executor boundary
      "cc_pairs" -> StreamOps.ccFromPairState(s, pipe.corpus.dedupIndexDir),
      "bm25" -> StreamOps.serveBm25Continuous(s, pipe.corpus.bm25IndexDir),
      "boiler" -> StreamOps.serveBoilerplateContinuous(s, pipe.corpus.boilerStatsDir),
      "passage50" -> StreamOps.servePassageDup50Continuous(s, pipe.corpus.passageGramsDir),
      "bigram" -> StreamOps.serveLmBigramContinuous(s, pipe.corpus.bigramStatsDir),
      "phrase" -> StreamOps.servePhraseContinuous(s, pipe.corpus.phraseIndexDir),
      "report" -> StreamOps.publishedCorpusReport(s, pipe.corpus.reportSummaryDir),
      "ann" -> StreamOps.serveAnnContinuous(s, pipe.vectors.annDir, annProbes),
      "quant" -> StreamOps.serveQuantContinuous(
        s, pipe.vectors.quantDir, SimilarityOps.quantProbeFrame(s, sfDir)),
      "ivf" -> StreamOps.serveIvfContinuous(
        s, pipe.vectors.ivfDir, e.filter(col("vec_id") < 5)),
      "sem" -> StreamOps.serveSemanticContinuous(s, pipe.vectors.semDir),
      "store" -> StreamOps
        .EmbStoreFamily.roots(s, pipe.vectors.storeDir)
        .map(r => s.read.parquet(r))
        .reduce(_ unionByName _)
        .select(col("vec_id"), col("ishard").cast("long").as("ishard")),
      "rollup" -> StreamOps.serveRollupContinuous(s, rollupDir)
        .orderBy(col("event_type")),
      "rollup_daily" -> StreamOps.serveRollupDailyContinuous(s, rollupDir)
        .orderBy(col("day"), col("event_type")))
  }

  /** The JDK 17 module opens Spark needs outside spark-submit, for every
    * JVM these drivers launch (build.sbt gives the same list to the forks).
    */
  private[graft] val JdkOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  /** Surface names [[runPipeline]] dumps — the spec iterates these. */
  private[graft] val StreamSurfaces =
    Seq("lake", "dedup", "cc_pairs", "bm25", "boiler", "passage50", "bigram",
      "phrase", "report",
      "ann", "quant", "ivf", "sem", "store", "rollup", "rollup_daily")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val streamMode = args.length > 2 && args(2) == "stream"
    val spark = SparkSession.builder()
      .master("local-cluster[2,4,2048]")
      .appName("graft-cluster-check")
      // executor JVMs are launched by the in-process Worker with THIS
      // classpath (the graft classes live on the test JVM's classpath,
      // not in a submitted jar) and the same JDK17 module opens the
      // driver fork carries
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config(
        "spark.executor.extraJavaOptions",
        JdkOpens.map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" "))
      .config("spark.executor.memory", "1024m")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // make sure both executor processes registered before measuring —
      // a query could otherwise run single-executor and prove nothing
      val deadline = System.currentTimeMillis() + 120000L
      def executors(): Int =
        spark.sparkContext.getExecutorMemoryStatus.size - 1 // minus driver
      while (executors() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      val execs = executors()
      if (streamMode) {
        val work = java.nio.file.Files
          .createTempDirectory("graft_cluster_stream").toString
        runPipeline(spark, sfDir, work).foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$name")
        }
        println(s"[cluster] executors=$execs surfaces=${StreamSurfaces.size}")
      } else {
        Queries.foreach { n =>
          SparkEntry.queries(n)(spark, sfDir)
            .write.mode("overwrite").parquet(s"$outDir/$n")
        }
        println(s"[cluster] executors=$execs queries=${Queries.size}")
      }
    } finally spark.stop()
  }
}
