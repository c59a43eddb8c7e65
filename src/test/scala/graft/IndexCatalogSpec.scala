package graft

import java.nio.file.Files

import graft.index.GenLog
import graft.ops.{SimilarityOps, StreamOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared index catalog ([[graft.index.GenLog]]): build-once-serve-
  * many under a configurable warehouse root, commit-marker crash safety
  * (a partial snapshot can never supersede the generations it folds),
  * full-snapshot pruning, and the queryable manifest.
  */
class IndexCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(dir: String, p: String) =
    fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/$p"))

  test("build-once: a second build call for committed params is a no-op") {
    val dir = s"${Files.createTempDirectory("graft_cat_once")}/idx"
    var builds = 0
    def build(): Boolean = GenLog.buildOnce(spark, dir) {
      builds += 1
      SimilarityOps.writeAnnIndexFor(
        spark, T(spark, sf, "embeddings"), dir)
    }
    val (runs0, skips0) = (GenLog.buildsRun.get(), GenLog.buildsSkipped.get())
    assert(build() === true && builds === 1)
    assert(build() === false && builds === 1, "second build must skip")
    // the bench's catalog observability counters track exactly this
    assert(GenLog.buildsRun.get() - runs0 === 1L)
    assert(GenLog.buildsSkipped.get() - skips0 === 1L)

    // and through the family path a served query builds: no file is
    // rewritten
    val canonical = s"${GenLog.datasetRoot(spark, sf)}/ann"
    def buildAnn(): Boolean =
      StreamOps.AnnFamily.buildOnce(spark, canonical)(Seq(T(spark, sf, "embeddings")))
    buildAnn()
    def newestMtime(d: String): Long = {
      val it = fsOf(d).listFiles(new org.apache.hadoop.fs.Path(d), true)
      var m = 0L
      while (it.hasNext) { val f = it.next(); if (f.isFile) m = math.max(m, f.getModificationTime) }
      m
    }
    val before = newestMtime(canonical)
    assert(!buildAnn())
    assert(newestMtime(canonical) === before, "re-request must not rewrite")
  }

  test("family buildOnce: seed plus generations under one claim, a skip runs no job") {
    val e = T(spark, sf, "embeddings")
    val counter = JobCounter.on(spark.sparkContext)
    // the frames block runs a job of its own (the threshold), so a skip
    // that evaluated it would show up as a submitted job
    def frames(withBatch: Boolean): Seq[DataFrame] = {
      val thr = e.agg(max($"vec_id")).head().getLong(0) * 9 / 10
      if (withBatch) Seq(e.filter($"vec_id" <= thr), e.filter($"vec_id" > thr))
      else Seq(e)
    }
    for (withBatch <- Seq(false, true)) {
      val dir = s"${Files.createTempDirectory("graft_cat_fam")}/idx"
      def build(): Boolean = StreamOps.AnnFamily.buildOnce(spark, dir)(frames(withBatch))
      assert(build())
      val want =
        if (withBatch) Seq(s"$dir/v0/full", s"$dir/v1/gen") else Seq(s"$dir/v0/full")
      assert(StreamOps.AnnFamily.roots(spark, dir) === want)
      val skips0 = GenLog.buildsSkipped.get()
      val c0 = counter.snapshot()
      assert(!build(), "second build must skip")
      assert((counter.snapshot() - c0).jobs === 0L, "a skipped build must submit no job")
      assert(GenLog.buildsSkipped.get() - skips0 === 1L)
      assert(StreamOps.AnnFamily.roots(spark, dir) === want)
    }
  }

  test("the warehouse root is configurable and dataset-keyed") {
    val custom = Files.createTempDirectory("graft_cat_root").toString
    val prior = spark.conf.getOption(GenLog.RootKey)
    spark.conf.set(GenLog.RootKey, custom)
    try {
      assert(GenLog.datasetRoot(spark, sf).startsWith(custom))
      val path = s"${GenLog.datasetRoot(spark, sf)}/ann"
      StreamOps.AnnFamily.buildOnce(spark, path)(Seq(T(spark, sf, "embeddings")))
      assert(fsOf(custom).exists(new org.apache.hadoop.fs.Path(path)))
      // the index under the custom root serves identically
      assert(
        rows(SimilarityOps.serveAnnBatch(
          spark,
          StreamOps.AnnFamily.roots(spark, path),
          SimilarityOps.batchProbeFrame(spark, sf))) ===
          rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
      // two datasets never collide under one root
      assert(
        GenLog.datasetRoot(spark, "/a/b") !== GenLog.datasetRoot(spark, "/a/c"))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(GenLog.RootKey, v)
        case None    => spark.conf.unset(GenLog.RootKey)
      }
    }
  }

  test("an uncommitted (crashed) full snapshot never supersedes generations") {
    val dir = Files.createTempDirectory("graft_cat_crash").toString
    val all = T(spark, sf, "embeddings")
    val cut = all.agg(max($"vec_id")).head().getLong(0) * 8 / 10
    StreamOps.AnnFamily.seed(spark, all.filter($"vec_id" <= cut), dir)
    // a "streamed" generation, committed through the kernel protocol
    SimilarityOps.writeAnnIndexFor(
      spark, all.filter($"vec_id" > cut), s"$dir/v1/gen")
    GenLog.markCommitted(spark, s"$dir/v1/gen")
    val probes = SimilarityOps.batchProbeFrame(spark, sf)
    val want = rows(SparkEntry.queries("q_sim_batch")(spark, sf))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, dir), probes)) === want)

    // simulate a compaction that crashed mid-write: a partial v1/full
    // with data files but NO commit marker
    all.filter($"vec_id" <= cut / 2)
      .select($"vec_id", $"embedding", lit(0d).as("n2"), lit(0L).as("bucket"))
      .write.parquet(s"$dir/v1/full")
    // the partial snapshot is invisible: roots and answers are unchanged
    assert(GenLog.versions(spark, dir, requiring = "full") === Seq(0L))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, dir), probes)) === want)
    // the manifest reports it as present-but-uncommitted
    assert(GenLog.manifest(spark, dir).contains((1L, "full", false)))
    assert(GenLog.manifest(spark, dir).contains((1L, "gen", true)))

    // rerunning the compaction overwrites the partial output, commits,
    // and only then supersedes: answers still unchanged. The superseded
    // generation gets a one-compaction GRACE (tombstoned, excluded from
    // roots, files intact for readers that resolved pre-fold); the next
    // compaction deletes it.
    StreamOps.AnnFamily.compact(spark, dir)
    assert(GenLog.versions(spark, dir, requiring = "full").max === 1L)
    assert(exists(dir, s"v1/gen/${GenLog.Superseded}"))
    assert(!StreamOps.AnnFamily.roots(spark, dir).exists(_.endsWith("v1/gen")))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, dir), probes)) === want)
    StreamOps.AnnFamily.compact(spark, dir)
    assert(!exists(dir, "v1/gen"))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, dir), probes)) === want)
  }

  test("compaction prunes all but the newest keepFulls full snapshots") {
    val dir = Files.createTempDirectory("graft_cat_prune").toString
    val all = T(spark, sf, "embeddings")
    val m = all.agg(max($"vec_id")).head().getLong(0)
    StreamOps.AnnFamily.seed(spark, all.filter($"vec_id" <= m / 2), dir)
    def addGen(v: Int, lo: Long, hi: Long): Unit = {
      SimilarityOps.writeAnnIndexFor(
        spark,
        all.filter($"vec_id" > lo && $"vec_id" <= hi),
        s"$dir/v$v/gen")
      GenLog.markCommitted(spark, s"$dir/v$v/gen")
    }
    val probes = SimilarityOps.batchProbeFrame(spark, sf)
    assert(GenLog.KeepFulls === 2)
    addGen(1, m / 2, m * 2 / 3)
    StreamOps.AnnFamily.compact(spark, dir)
    // two fulls fit the bound: the v0 seed snapshot survives the first fold
    assert(GenLog.versions(spark, dir, requiring = "full").sorted === Seq(0L, 1L))
    addGen(2, m * 2 / 3, m * 5 / 6)
    StreamOps.AnnFamily.compact(spark, dir)
    // every snapshot but the newest two is pruned after each fold commits
    assert(GenLog.versions(spark, dir, requiring = "full").sorted === Seq(1L, 2L))
    addGen(3, m * 5 / 6, m)
    StreamOps.AnnFamily.compact(spark, dir)
    assert(GenLog.versions(spark, dir, requiring = "full").sorted === Seq(2L, 3L))
    // after three fold+prune cycles the index still answers exactly
    assert(
      rows(SimilarityOps.serveAnnBatch(spark, StreamOps.AnnFamily.roots(spark, dir), probes)) ===
        rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
    // the directory holds O(keep) corpus copies with one-compaction lag:
    // v1/gen and v2/gen (superseded two compactions ago or more) are
    // gone, v3/gen rides out its grace tombstoned, and the next
    // compaction collects it too
    assert(GenLog.versions(spark, dir, requiring = "gen") === Seq(3L))
    assert(exists(dir, s"v3/gen/${GenLog.Superseded}"))
    StreamOps.AnnFamily.compact(spark, dir)
    assert(GenLog.versions(spark, dir, requiring = "gen").isEmpty)
  }

  test("roots and compact on an unseeded directory name the family") {
    val dir = Files.createTempDirectory("graft_cat_unseeded").toString
    for ((fam, label) <- Seq(
        StreamOps.Bm25Family -> "lexical index",
        StreamOps.AnnFamily -> "ANN index")) {
      assert(fam.label === label)
      val fromRoots = intercept[IllegalArgumentException](fam.roots(spark, dir))
      val fromCompact = intercept[IllegalArgumentException](fam.compact(spark, dir))
      for (e <- Seq(fromRoots, fromCompact))
        assert(
          e.getMessage.contains(s"$label at $dir has no committed full snapshot"),
          e.getMessage)
      // the policy fold never compacts an unseeded directory
      assert(!fam.maybeCompact(spark, dir))
    }
  }

  test("buildOnce: two racing writers build one key exactly once, both serve identical bytes") {
    val dir = s"${Files.createTempDirectory("graft_cat_race")}/idx"
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // a deliberately slow build widens the race window past the claim
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        try results.add(GenLog.buildOnce(spark, dir) {
          builds.incrementAndGet()
          Thread.sleep(500)
          SimilarityOps.writeAnnIndexFor(spark, T(spark, sf, "embeddings"), dir)
        })
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(builds.get() === 1, "exactly one racing writer may build")
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSeq.sorted === Seq(false, false, false, true))
    // the claim is released and every caller (winner and losers alike)
    // serves the one committed artifact set
    assert(!fsOf(dir).exists(GenLog.claimPath(dir)))
    assert(
      rows(SimilarityOps.serveAnnBatch(
        spark, Seq(dir), SimilarityOps.batchProbeFrame(spark, sf))) ===
        rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
  }

  test("buildOnce: a killed claimant's key recovers once the claim goes stale") {
    val dir = s"${Files.createTempDirectory("graft_cat_orphan")}/idx"
    val fs = fsOf(dir)
    // simulate a claimant that died mid-build: a claim file, no marker
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.create(GenLog.claimPath(dir), false).close()
    assert(
      new java.io.File(GenLog.claimPath(dir).toUri.getPath)
        .setLastModified(System.currentTimeMillis() - 3600L * 1000L))
    spark.conf.set(GenLog.ClaimTtlKey, "2000")
    try {
      var built = false
      assert(GenLog.buildOnce(spark, dir) { built = true } === true)
      assert(built, "the stale claim must be re-claimed and the build run")
      assert(GenLog.buildOnce(spark, dir) { built = false } === false)
      assert(built, "after recovery the key is committed and skips")
    } finally spark.conf.unset(GenLog.ClaimTtlKey)
  }

  test("buildOnce: a failed build releases the claim instead of wedging the key") {
    val dir = s"${Files.createTempDirectory("graft_cat_fail")}/idx"
    intercept[RuntimeException] {
      GenLog.buildOnce(spark, dir) { throw new RuntimeException("boom") }
    }
    assert(
      !fsOf(dir).exists(GenLog.claimPath(dir)),
      "the failed winner must release its claim")
    var built = false
    assert(GenLog.buildOnce(spark, dir) { built = true } === true && built)
  }

  test("compaction grace: a reader that resolved roots pre-fold finishes its scan") {
    val dir = Files.createTempDirectory("graft_cat_grace").toString
    val all = T(spark, sf, "embeddings")
    val cut = all.agg(max($"vec_id")).head().getLong(0) * 8 / 10
    StreamOps.AnnFamily.seed(spark, all.filter($"vec_id" <= cut), dir)
    SimilarityOps.writeAnnIndexFor(
      spark, all.filter($"vec_id" > cut), s"$dir/v1/gen")
    GenLog.markCommitted(spark, s"$dir/v1/gen")
    val probes = SimilarityOps.batchProbeFrame(spark, sf)
    val want = rows(SparkEntry.queries("q_sim_batch")(spark, sf))
    // the live reader: roots resolved and the scan's file listing built
    // BEFORE the compaction commits its fold
    val preCompact =
      SimilarityOps.serveAnnBatch(
        spark, StreamOps.AnnFamily.roots(spark, dir), probes)
    StreamOps.AnnFamily.compact(spark, dir)
    // without the grace tombstone this collect would race the delete of
    // v1/gen's part files (FileNotFoundException); with it, the reader
    // outlives its snapshot for a full compaction interval
    assert(rows(preCompact) === want)
    // post-grace, the next compaction collects the directory
    StreamOps.AnnFamily.compact(spark, dir)
    assert(!exists(dir, "v1/gen"))
    assert(rows(SimilarityOps.serveAnnBatch(
      spark, StreamOps.AnnFamily.roots(spark, dir), probes)) === want)
  }

  test("dedup compaction ignores a mid-batch crash's partially-committed version") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = Files.createTempDirectory("graft_cat_halfbatch").toString
    val docs = T(spark, sf, "documents").select($"doc_id", $"lang", $"text")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 9 / 10
    StreamOps.NearDupFamily.seed(spark, docs.filter($"doc_id" <= cut), dir)
    // simulate a batch that crashed after committing its FIRST artifact
    // (assign) but before its generation
    GenLog.commitParquet(
      docs.filter($"doc_id" > cut).select($"doc_id", $"doc_id".as("cluster_id")),
      s"$dir/v2/assign")
    // compaction must NOT fold a snapshot at v2 (the generation is not
    // committed): gating on the first-written artifact would strand the
    // retried batch's generation at v == the snapshot's version forever
    StreamOps.NearDupFamily.compact(spark, dir)
    assert(GenLog.versions(spark, dir, requiring = "full") === Seq(0L))
    assert(!GenLog.manifest(spark, dir).exists {
      case (2L, "full", _) => true
      case _               => false
    })
    assert(StreamOps.NearDupFamily.roots(spark, dir) === Seq(s"$dir/v0/full"))
  }

  test("a retried near-dup batch reads the index as of its own batchId") {
    val dir = Files.createTempDirectory("graft_cat_nearretry").toString
    val docs = T(spark, sf, "documents").select($"doc_id", $"lang", $"text")
    val n = docs.agg(max($"doc_id")).head().getLong(0)
    StreamOps.NearDupFamily.seed(spark, docs.filter($"doc_id" <= n / 3), dir)
    StreamOps.incrDedupCommit(
      docs.filter($"doc_id" > n / 3 && $"doc_id" <= 2 * n / 3), dir, batchId = 0L)
    val batch = docs.filter($"doc_id" > 2 * n / 3)
    StreamOps.incrDedupCommit(batch, dir, batchId = 1L)
    def state(): Seq[Seq[String]] =
      Seq("assign", "remap", "gen/md5", "gen/band")
        .map(a => rows(spark.read.parquet(s"$dir/v2/$a")).sorted)
    val first = state()
    assert(first(3).nonEmpty, "the batch adds band rows")
    // the retry runs after its own generation (v2/gen) committed: read as
    // of the latest roots it would find the batch's own rows in the index
    // and add none
    StreamOps.incrDedupCommit(batch, dir, batchId = 1L)
    assert(state() === first)
    assert(StreamOps.NearDupFamily.roots(spark, dir) ===
      Seq(s"$dir/v0/full", s"$dir/v1/gen", s"$dir/v2/gen"))
  }

  test("IVF and PQ compactions carry the epoch artifact forward and serve unchanged rows") {
    val e = T(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val n = e.agg(max($"vec_id")).head().getLong(0)
    // each compaction leaves the served rows as they were; the second
    // one's fold lands at v2, prunes the v0 seed and keeps the codebook
    def compactTwice(dir: String, F: GenLog.GenFamily, serve: () => DataFrame)(
        batch2: DataFrame): Unit = {
      def compacted(): Unit = {
        val before = rows(serve())
        F.compact(spark, dir)
        assert(rows(serve()) === before)
      }
      compacted()
      F.commit(batch2, dir, 1L)
      compacted()
      assert(GenLog.versions(spark, dir, requiring = "full").sorted === Seq(1L, 2L))
      assert(!exists(dir, "v0/full") && exists(dir, "v2/full/codebook"))
    }

    val ivf = Files.createTempDirectory("graft_cat_ivfepoch").toString
    val cents = e.filter($"vec_id" < 16)
      .select($"vec_id".as("c_id"), $"embedding".as("c"), Vec.norm2($"embedding").as("cn2"))
    val I = StreamOps.ivfFamily(ivf)
    StreamOps.seedIvfIndex(spark, e.filter($"vec_id" <= n / 2), cents, ivf)
    I.commit(e.filter($"vec_id" > n / 2 && $"vec_id" <= 3 * n / 4), ivf, 0L)
    val probes = e.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
      .filter($"vec_id" < 5)
    compactTwice(ivf, I, () => SimilarityOps.serveIvfBatch(spark, I.roots(spark, ivf), probes))(
      e.filter($"vec_id" > 3 * n / 4))

    val pq = Files.createTempDirectory("graft_cat_pqepoch").toString
    val P = SimilarityOps.pqFamily(pq)
    SimilarityOps.writePqIndex(spark, sf, pq, incr = true)
    // a second batch of fresh ids: copies of the first vectors
    compactTwice(pq, P, () => SimilarityOps.servePqCodes(spark, sf, P.roots(spark, pq)))(
      e.filter($"vec_id" < 50).select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
  }

  test("roots(upTo): the newest full at or below upTo plus the gens up to it") {
    val dir = Files.createTempDirectory("graft_cat_upto").toString
    val F = GenLog.GenFamily(
      label = "plain",
      write = (_, df, path) => df.write.mode("overwrite").parquet(path),
      fold = (s, roots, path) =>
        roots.map(s.read.parquet(_)).reduce(_ unionByName _).write.mode("overwrite").parquet(path))
    val ids = spark.range(30).toDF("id")
    F.seed(spark, ids.filter($"id" < 10), dir)
    F.commit(ids.filter($"id".between(10, 19)), dir, 0L)
    F.commit(ids.filter($"id" >= 20), dir, 1L)
    val asOf1 = Seq(s"$dir/v0/full", s"$dir/v1/gen")
    assert(F.roots(spark, dir, upTo = 1) === asOf1)
    assert(F.roots(spark, dir) === asOf1 :+ s"$dir/v2/gen")
    F.compact(spark, dir)
    // the fold lands at v2; the state as of v1 still resolves to the seed
    // and v1's (tombstoned, not yet deleted) generation
    assert(F.roots(spark, dir, upTo = 1) === asOf1)
    assert(F.roots(spark, dir) === Seq(s"$dir/v2/full"))
    assert(spark.read.parquet(F.roots(spark, dir): _*).count() === 30)
  }

  test("a retried embedding-dedup batch reads the index as of its own batchId") {
    val dir = Files.createTempDirectory("graft_cat_embretry").toString
    val vecs = T(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val n = vecs.agg(max($"vec_id")).head().getLong(0)
    StreamOps.EmbedBandFamily.seed(spark, vecs.filter($"vec_id" <= n / 3), dir)
    StreamOps.incrEmbedDedupCommit(
      vecs.filter($"vec_id" > n / 3 && $"vec_id" <= 2 * n / 3), dir, batchId = 0L)
    val batch = vecs.filter($"vec_id" > 2 * n / 3)
    StreamOps.incrEmbedDedupCommit(batch, dir, batchId = 1L)
    val first = rows(spark.read.parquet(s"$dir/v2/pairs").orderBy("a_id", "b_id"))
    // the retry runs after its own generation (v2/gen) committed: read as
    // of the latest roots it would probe the batch against itself
    StreamOps.incrEmbedDedupCommit(batch, dir, batchId = 1L)
    assert(rows(spark.read.parquet(s"$dir/v2/pairs").orderBy("a_id", "b_id")) === first)
    assert(StreamOps.EmbedBandFamily.roots(spark, dir) ===
      Seq(s"$dir/v0/full", s"$dir/v1/gen", s"$dir/v2/gen"))
  }

  test("dedup/embed compaction keeps KeepFulls snapshots, v0's is dropped") {
    val docs = T(spark, sf, "documents").select($"doc_id", $"lang", $"text")
    val vecs = T(spark, sf, "embeddings").select($"vec_id", $"embedding")
    // the base and three batches: the quarters of each table by id
    def quarters(df: DataFrame, id: String): Seq[DataFrame] = {
      val n = df.agg(max(col(id))).head().getLong(0)
      val cuts = Seq(Long.MinValue, n / 4, n / 2, 3 * n / 4, n)
      cuts.zip(cuts.tail).map { case (lo, hi) => df.filter(col(id) > lo && col(id) <= hi) }
    }
    // three rounds fold at v1, v2 and v3; the newest KeepFulls survive
    val kept = Seq(2L, 3L)
    assert(kept.size === GenLog.KeepFulls)

    val near = Files.createTempDirectory("graft_cat_nearprune").toString
    val d = quarters(docs, "doc_id")
    StreamOps.NearDupFamily.seed(spark, d.head, near)
    for (b <- 1 to 3) {
      StreamOps.incrDedupCommit(d(b), near, batchId = b - 1L)
      StreamOps.NearDupFamily.compact(spark, near)
    }
    assert(GenLog.versions(spark, near, requiring = "full").sorted === kept)
    assert(!exists(near, "v0/full"))
    // the emptied seed version goes with its last artifact; every batch
    // version keeps its assign/remap/pairs log
    assert(GenLog.versions(spark, near).sorted === Seq(1L, 2L, 3L))

    val emb = Files.createTempDirectory("graft_cat_embprune").toString
    val v = quarters(vecs, "vec_id")
    StreamOps.EmbedBandFamily.seed(spark, v.head, emb)
    for (b <- 1 to 3) {
      StreamOps.incrEmbedDedupCommit(v(b), emb, batchId = b - 1L)
      StreamOps.EmbedBandFamily.compact(spark, emb)
    }
    assert(GenLog.versions(spark, emb, requiring = "full").sorted === kept)
    assert(!exists(emb, "v0/full"))
    assert(GenLog.versions(spark, emb).sorted === Seq(1L, 2L, 3L))
    // the newest snapshot serves the whole corpus
    assert(StreamOps.embedBands(spark, StreamOps.EmbedBandFamily.roots(spark, emb))
      .select("vec_id").distinct().count() === vecs.count())
  }
}
