package graft.index

import graft.T
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.hadoop.fs.{FileSystem, Path}

/** The shared generation-log kernel behind every persisted index in the
  * library — the ONE implementation of version directories, commit
  * markers, merge-on-read root resolution, compaction, and snapshot
  * pruning that every persisted index rides as a [[GenFamily]]: streamed,
  * or built once for a served or incremental query
  * ([[GenFamily.buildOnce]]). A family whose generation depends on prior
  * state (the near-dup log, the embedding dedup) reads its roots as of
  * the batch and commits the generation it computed; no index keeps a
  * lifecycle of its own.
  *
  * Layout contract: an index directory holds `v<N>` version directories,
  * each holding named ARTIFACT directories (`full`, `gen`, and a
  * family's per-batch log beside its generation: `assign`, `remap`,
  * `pairs`). An artifact exists only once its writer has
  * dropped the [[Marker]] file inside it — a crash mid-write leaves an
  * uncommitted directory that every reader and compactor ignores, so a
  * partially-written full snapshot can never silently supersede the
  * generations it was folding (the write-then-mark protocol; an atomic
  * rename would need same-filesystem guarantees the marker does not).
  * A compaction that empties a version directory removes it.
  *
  * Read contract: every serve, fold, epoch roll and prior-state probe
  * reads an index's roots through [[read]], the one merge-on-read. The
  * layout decision — each root is its own (possibly hive-partitioned)
  * table, read separately and unioned; a probe prunes every root's scan
  * by a literal partition filter — lives there and nowhere else.
  *
  * Keying contract: serving builds are keyed by (dataset, artifact
  * params) under ONE configurable warehouse root ([[RootKey]]) — the
  * reference's own idempotent re-run loop (main.py:104-105,202) made
  * engine-side: a second build call for already-committed params is a
  * no-op ([[buildOnce]]), so N queries over the same dataset share one
  * physical index instead of rebuilding it N times. The default root is
  * application-scoped (no cross-run state, no cross-application races);
  * a deployment points [[RootKey]] at its durable warehouse and builds
  * amortize across sessions. Concurrent writers under a SHARED root are
  * serialized through the [[buildOnce]] claim lease (atomic
  * create-if-absent on one filesystem) — exactly one first build runs,
  * losers wait for its marker, crash orphans re-claim after
  * [[ClaimTtlKey]]; after the marker lands, every caller skips.
  */
object GenLog {

  /** Conf key for the index warehouse root. Unset → a per-application
    * temp root, deleted when the application ends (correct for
    * tests/bench: no stale state, no races, nothing left behind).
    */
  val RootKey = "spark.graft.index.root"

  /** Commit marker dropped inside an artifact directory after its last
    * byte is written. Underscore-prefixed, so Spark's file index ignores
    * it when the artifact is read back as parquet.
    */
  private[graft] val Marker = "_GRAFT_COMMITTED"

  /** Claim lease dropped by a [[buildOnce]] winner before it starts
    * building, removed after the marker lands (or the build fails).
    * A SIBLING of the artifact directory, not a file inside it: builds
    * write the artifact with SaveMode.Overwrite, which would delete a
    * claim living inside the directory mid-build — polling losers would
    * then see neither marker nor claim and re-claim a key whose build is
    * still running.
    */
  private[graft] val ClaimSuffix = "._GRAFT_CLAIM"

  private[graft] def claimPath(path: String): Path =
    new Path(path.stripSuffix("/") + ClaimSuffix)

  /** Grace tombstone dropped into a superseded generation directory by
    * the compaction that folded it; the NEXT compaction deletes the
    * directory. Underscore-prefixed: invisible to parquet readers.
    */
  private[graft] val Superseded = "_GRAFT_SUPERSEDED"

  /** Grace-delete a superseded artifact directory: tombstone it on the
    * first call (files stay intact for readers whose scan listing was
    * resolved before the fold committed), delete it on a later call —
    * a live reader outlives its snapshot for one full compaction
    * interval ([[GenFamily.compact]]).
    */
  private def graceDelete(fs: FileSystem, path: Path): Unit = {
    val tomb = new Path(path, Superseded)
    if (fs.exists(tomb)) dropArtifact(fs, path)
    else fs.create(tomb, true).close()
  }

  /** Delete an artifact directory, then its `v<N>` directory once that
    * holds nothing else — otherwise every later [[versions]] listing
    * would walk the emptied version again.
    */
  private def dropArtifact(fs: FileSystem, artifact: Path): Unit = {
    fs.delete(artifact, true)
    val version = artifact.getParent
    if (fs.exists(version) && fs.listStatus(version).isEmpty) fs.delete(version, true)
  }

  /** A claim whose mtime is older than this is a crash orphan and
    * re-claimable. The WINNER heartbeats the claim (touches its mtime)
    * every TTL/4 while its build runs, so staleness means ≥4 missed
    * heartbeats — a presumed-dead claimant — not merely a slow build:
    * the TTL is decoupled from build duration and sizes only the
    * detection latency for real crashes (conf-tunable per deployment).
    */
  val ClaimTtlKey = "spark.graft.index.claimTtlMs"
  private val DefaultClaimTtlMs = 30L * 60L * 1000L

  /** Filesystem schemes whose `create(overwrite=false)` (or the `file:`
    * O_EXCL special case) is genuinely atomic — the claim lease's mutual
    * exclusion is only as good as that primitive. Object stores that
    * implement create-if-absent as exists-then-put would SILENTLY lose
    * the exclusion (two winners Overwrite-writing one artifact), so
    * [[buildOnce]] refuses unknown schemes up front; a deployment whose
    * store does support conditional put (S3 If-None-Match, GCS
    * if-generation-match, ABFS ETag) opts its scheme in via this
    * comma-separated conf key.
    */
  val ClaimSchemesKey = "spark.graft.index.claimSchemes"
  private val AtomicClaimSchemes = Set("file", "hdfs", "viewfs", "webhdfs")

  private[graft] def requireClaimScheme(scheme: String, extra: Set[String]): Unit =
    require(
      AtomicClaimSchemes.contains(scheme) || extra.contains(scheme),
      s"buildOnce's claim lease needs atomic create-if-absent, which scheme " +
        s"'$scheme' is not known to provide. If this store supports a " +
        s"conditional put (S3 If-None-Match, GCS if-generation-match, ABFS " +
        s"ETag) and the Hadoop connector maps create(overwrite=false) onto " +
        s"it, opt in with --conf $ClaimSchemesKey=$scheme; otherwise point " +
        s"$RootKey at a filesystem with atomic create (file/hdfs) or " +
        s"coordinate first builds externally.")

  /** Catalog-hit observability: how many [[buildOnce]] calls actually
    * built vs skipped on an existing marker, process-wide. Bench emits
    * both into its `splits` so a regression that silently re-builds per
    * iteration is machine-visible instead of masquerading as a serve
    * slowdown.
    */
  val buildsRun = new java.util.concurrent.atomic.AtomicLong
  val buildsSkipped = new java.util.concurrent.atomic.AtomicLong

  private val GenSub = "gen"
  private val FullSub = "full"

  /** The index warehouse root: [[RootKey]] when set, else a
    * per-application `graft_serve_<appId>` directory under
    * `java.io.tmpdir`. The default root is scratch that lives as long as
    * its application: handing it out registers its deletion at
    * application end ([[deleteAtEnd]]). A root set through [[RootKey]] is
    * never deleted.
    */
  def root(s: SparkSession): String =
    s.conf.getOption(RootKey).getOrElse {
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_serve_${s.sparkContext.applicationId}"
      deleteAtEnd(s, dir)
      dir
    }

  private val endDeletes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Deletes the local directory `dir` when `s`'s application ends
    * (`SparkContext.stop`, which Spark's shutdown hook also runs); one
    * listener per directory.
    */
  private def deleteAtEnd(s: SparkSession, dir: String): Unit =
    if (endDeletes.add(dir))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
          endDeletes.remove(dir)
        }
      })

  /** The per-dataset directory all of a dataset's serving indexes live
    * under: sanitized path (not hashCode), so distinct datasets never
    * collide and the layout is human-auditable.
    */
  def datasetRoot(s: SparkSession, dataset: String): String =
    s"${root(s)}/${dataset.replaceAll("[^A-Za-z0-9._-]", "_")}"

  private def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  def isCommitted(s: SparkSession, path: String): Boolean =
    fsOf(s, path).exists(new Path(path, Marker))

  def markCommitted(s: SparkSession, path: String, buildId: String = ""): Unit = {
    val fs = fsOf(s, path)
    fs.mkdirs(new Path(path))
    val out = fs.create(new Path(path, Marker), true)
    if (buildId.nonEmpty) out.write(buildId.getBytes("UTF-8"))
    out.close()
  }

  /** The winner UUID recorded in a committed marker — None when no
    * marker exists, Some("") for markers written by the generation
    * writers (whose per-batchId retries re-mark BY DESIGN and need no
    * attribution). Only [[buildOnce]] markers carry a UUID.
    */
  private[graft] def committedBuildId(fs: FileSystem, path: String): Option[String] =
    try {
      val in = fs.open(new Path(path, Marker))
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(if (n <= 0) "" else new String(buf, 0, n, "UTF-8"))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Thrown when a [[buildOnce]] winner, arriving at its own commit,
    * finds a marker ALREADY on the artifact — the observable footprint
    * of the residual lease race (an alive-but-heartbeat-silent owner
    * releasing between a reclaimer's in-lock re-stat and rename, which
    * mtime leases cannot close without filesystem CAS). The race cannot
    * be prevented here, but it can no longer pass silently: the second
    * committer fails loudly with both UUIDs instead of stacking its
    * marker over an artifact its own Overwrite may have clobbered —
    * operators get a signal to re-verify the key instead of serving
    * possibly-torn bytes.
    */
  final class DoubleBuildDetected(msg: String) extends IllegalStateException(msg)

  /** Build-once-serve-many: run `build` only when `path` carries no
    * commit marker, mark on success, report whether it ran. Builds must
    * be deterministic functions of (dataset, params) — every build in
    * the library is — so a skip is byte-equivalent to a rebuild.
    *
    * Concurrent-writer safe on one filesystem: the first build of a key
    * is serialized through an atomic claim lease (create-if-absent of
    * `_GRAFT_CLAIM` — O_EXCL on local FS, NameNode-atomic create on
    * HDFS; object stores without atomic create-if-absent still need
    * external coordination). Exactly one caller wins and
    * builds; losers wait for the winner's marker and return false, so
    * both serve the same committed bytes — the reference's ON CONFLICT
    * idempotence (main.py:202), now concurrent. Crash-orphan policy: a
    * claim whose mtime is older than [[ClaimTtlKey]] is deleted and
    * re-claimed (a killed claimant's key recovers); a winner that dies
    * AFTER its marker lands leaves a stale claim that is harmless —
    * every caller checks the marker first.
    */
  def buildOnce(s: SparkSession, path: String)(build: => Unit): Boolean = {
    val fs = fsOf(s, path)
    requireClaimScheme(
      Option(fs.getUri.getScheme).getOrElse("file"),
      s.conf.getOption(ClaimSchemesKey)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty))
    val claim = claimPath(path)
    val ttlMs = s.conf.getOption(ClaimTtlKey).map(_.toLong).getOrElse(DefaultClaimTtlMs)
    while (true) {
      if (isCommitted(s, path)) { buildsSkipped.incrementAndGet(); return false }
      fs.mkdirs(claim.getParent)
      val claimed = tryClaim(fs, claim)
      if (claimed) {
        onClaimWon()
        // Won the lease — but a previous winner may have committed and
        // released in the gap between this caller's isCommitted check
        // and its tryClaim. Without this re-check the build would re-run
        // and its SaveMode.Overwrite would transiently delete the
        // committed artifact under live readers, violating "after the
        // marker lands, every caller skips".
        if (isCommitted(s, path)) {
          fs.delete(claim, false)
          buildsSkipped.incrementAndGet()
          return false
        }
        // Per-winner identity, written into the claim (so a live
        // observer can attribute a running build) and into the commit
        // marker (so a second committer — the residual lease race's
        // footprint — is DETECTED at commit time instead of silently
        // stacking markers). Best-effort on the claim: attribution must
        // not fail the build.
        val buildId = java.util.UUID.randomUUID().toString
        try {
          val o = fs.create(claim, true)
          o.write(buildId.getBytes("UTF-8")); o.close()
        } catch { case _: java.io.IOException => () }
        // Heartbeat while building: touch the claim's mtime every TTL/4
        // so losers never see a live build as a crash orphan — staleness
        // below means ≥4 missed heartbeats, not a slow build.
        val hb = startHeartbeat(fs, claim, ttlMs)
        // The claim is released whether the build commits or throws — a
        // failed build must not wedge the key until the TTL.
        try {
          build
          // Post-build double-build detector: this winner passed the
          // isCommitted re-check above, so a marker present NOW was
          // committed by a CONCURRENT winner mid-build — both builds'
          // Overwrites interleaved and the artifact may be torn. Refuse
          // to overwrite the foreign marker; fail loudly with both
          // identities so the anomaly is operable, not silent.
          committedBuildId(fs, path) match {
            case Some(foreign) =>
              val msg = s"double build detected at $path: a concurrent " +
                s"winner (buildId=${if (foreign.isEmpty) "<unattributed>" else foreign}) " +
                s"committed while this winner (buildId=$buildId) was still " +
                s"building — the residual claim-lease race fired; re-verify " +
                s"or rebuild this key before serving it"
              System.err.println(s"[graft] $msg")
              throw new DoubleBuildDetected(msg)
            case None =>
              markCommitted(s, path, buildId)
          }
        }
        finally { hb.interrupt(); fs.delete(claim, false) }
        buildsRun.incrementAndGet()
        return true
      }
      // Loser: wait for the winner's marker, or reclaim a crash orphan.
      val stale =
        try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime > ttlMs
        catch { case _: java.io.FileNotFoundException => false } // released — loop re-checks
      if (stale) {
        // Reclaim through a SERIALIZED critical section: an atomic
        // create-if-absent reclaim lock admits exactly one reclaimer,
        // which RE-VALIDATES staleness inside the lock before renaming
        // the orphan to a unique name and deleting it. The in-lock
        // re-stat is what closes the stat→rename TOCTOU that a bare
        // rename race leaves open: without it, reclaimer B (holding a
        // stale observation) can rename away the FRESH claim reclaimer A
        // just created after A's own rename-and-tryClaim — two
        // concurrent builds (observed as a spec flake under a loaded
        // JVM before this lock existed). Inside the lock no other
        // reclaimer can touch the claim path, and any fresh claim has a
        // current mtime, so the re-stat sees it and aborts. Residual,
        // documented honestly: a stale-LOOKING-but-alive owner (4+
        // consecutive missed heartbeats) releasing in the microseconds
        // between re-stat and rename — mtime leases without a
        // filesystem compare-and-swap cannot close that; the heartbeat
        // makes the precondition itself an anomaly.
        val rlock = new Path(claim.getParent, claim.getName + ".reclaim_lock")
        if (tryClaim(fs, rlock)) {
          try {
            val still =
              try System.currentTimeMillis() -
                fs.getFileStatus(claim).getModificationTime > ttlMs
              catch { case _: java.io.FileNotFoundException => false }
            if (still) {
              val tomb = new Path(
                claim.getParent,
                claim.getName +
                  s".reclaimed.${ProcessHandle.current().pid()}.${System.nanoTime()}")
              val renamed =
                try fs.rename(claim, tomb)
                catch { case _: java.io.IOException => false }
              if (renamed) fs.delete(tomb, false)
            }
          } finally fs.delete(rlock, false)
          // loop continues: the renamer (and everyone else) goes through
          // isCommitted → tryClaim — the claim primitive still decides
        } else {
          // a reclaim is in progress elsewhere; its critical section is
          // milliseconds (no build inside), so a lock older than a short
          // bound is a crash orphan inside the reclaim itself. Removal
          // goes through [[sweepStaleRlock]]'s rename-then-re-stat
          // discipline, never a bare stat-then-delete: a FRESH lock that
          // won the path after this caller's staleness observation is
          // restored, not destroyed.
          sweepStaleRlock(fs, rlock, math.min(ttlMs, 30000L))
          Thread.sleep(50L)
        }
      } else Thread.sleep(50L)
    }
    false // unreachable
  }

  /** Remove a crash-orphaned reclaim lock without ever destroying a live
    * one. A bare stat-then-delete can race: the holder releases, another
    * reclaimer creates a FRESH lock, and the holder of the stale
    * observation deletes that fresh lock — briefly admitting two
    * reclaimers into the serialized section. Instead: rename the lock to
    * a unique tombstone (atomic — exactly one sweeper takes the file),
    * then re-stat the TOMBSTONE, which only this sweeper references, so
    * the decision is race-free; a lock that turns out fresh is renamed
    * straight back, and only a genuinely stale one is deleted. If the
    * rename-back itself loses to a brand-new lock (possible only after
    * the anomalous stall the staleness bound encodes), the tombstone is
    * dropped and the displaced holder's section still re-validates claim
    * staleness before touching anything — the claim rename remains the
    * final arbiter, and the commit-time double-build detector makes even
    * that interleave observable. `afterStat` is a TEST SEAM between the
    * staleness observation and the rename, letting a spec interleave the
    * exact release-and-reacquire the restore path exists for; no-op in
    * production.
    */
  private[graft] def sweepStaleRlock(
      fs: FileSystem,
      rlock: Path,
      boundMs: Long,
      afterStat: () => Unit = () => ()): Unit = {
    val stale =
      try System.currentTimeMillis() -
        fs.getFileStatus(rlock).getModificationTime > boundMs
      catch { case _: java.io.FileNotFoundException => false }
    if (stale) {
      afterStat()
      val tomb = new Path(
        rlock.getParent,
        rlock.getName +
          s".swept.${ProcessHandle.current().pid()}.${System.nanoTime()}")
      val took =
        try fs.rename(rlock, tomb)
        catch { case _: java.io.IOException => false }
      if (took) {
        val stillStale =
          try System.currentTimeMillis() -
            fs.getFileStatus(tomb).getModificationTime > boundMs
          catch { case _: java.io.FileNotFoundException => true }
        if (stillStale) fs.delete(tomb, false)
        else if (!(try fs.rename(tomb, rlock)
                   catch { case _: java.io.IOException => false }))
          fs.delete(tomb, false)
      }
    }
  }

  /** TEST SEAM: invoked between a successful tryClaim and the post-claim
    * isCommitted re-check — observationally the instant at which, in the
    * real race, a competing winner's commit-and-release has already
    * landed (that release is WHY the tryClaim succeeded). Lets a spec
    * deterministically interleave that commit into the exact gap the
    * re-check closes. No-op in production.
    */
  @volatile private[graft] var onClaimWon: () => Unit = () => ()

  /** Daemon thread that touches the claim's mtime every TTL/4 until
    * interrupted — the liveness signal that keeps a long build's lease
    * fresh. Touch errors are swallowed: a lost heartbeat degrades to the
    * pre-heartbeat TTL behavior rather than failing the build.
    */
  private def startHeartbeat(fs: FileSystem, claim: Path, ttlMs: Long): Thread = {
    val interval = math.max(ttlMs / 4, 20L)
    val t = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          try fs.setTimes(claim, System.currentTimeMillis(), -1)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-claim-heartbeat-${claim.getName}")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Atomic create-if-absent of the claim file. HDFS makes
    * `create(overwrite = false)` atomic at the NameNode, but Hadoop's
    * LOCAL filesystem implements it as a non-atomic exists-then-create —
    * so `file:` claims go through `File.createNewFile` (O_CREAT|O_EXCL,
    * atomic per POSIX). Object stores without atomic create-if-absent
    * still need external coordination (documented on [[buildOnce]]).
    */
  private def tryClaim(fs: FileSystem, claim: Path): Boolean =
    if (fs.getUri.getScheme == "file")
      try new java.io.File(claim.toUri.getPath).createNewFile()
      catch { case _: java.io.IOException => false }
    else
      try { fs.create(claim, false).close(); true }
      catch { case _: java.io.IOException => false }

  /** Overwrite-write a frame as one committed artifact — a per-batch log
    * artifact beside a family's generation.
    */
  def commitParquet(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    markCommitted(df.sparkSession, path)
  }

  /** Overwrite-write a frame hive-partitioned on `key` — the layout of
    * every partitioned index artifact. The frame is repartitioned on the
    * key first (the writeCorpusShards rule): without it every task
    * appends a file to every partition directory (tasks × partitions
    * small files); with it each directory is owned by the tasks that
    * wrote it.
    */
  def writePartitioned(df: DataFrame, key: String, path: String): Unit =
    df.repartition(col(key)).write.mode(SaveMode.Overwrite).partitionBy(key).parquet(path)

  /** The one merge-on-read: the `artifact` rows (the root itself when
    * empty) of every root, unioned by name. Each root is read on its own
    * through [[T.parquet]], so hive-partitioned roots stay separate
    * tables. `within = Some(key -> probe)` prunes every root to the
    * partition values in `probe`'s single column: they are collected
    * once and put on each scan as a literal `isin` on `key`, which
    * Catalyst turns into a partition-listing prune. That collect is
    * bounded by the index's partition count (bm25/phrase term shards,
    * ANN/quantized buckets, IVF/semantic cells, 64 id shards); an empty
    * probe reads no rows.
    */
  def read(
      s: SparkSession,
      roots: Seq[String],
      artifact: String = "",
      within: Option[(String, DataFrame)] = None): DataFrame = {
    val keep = within.map { case (key, probe) =>
      col(key).isin(probe.distinct().collect().map(_.get(0)).toSeq: _*)
    }
    roots
      .map { r =>
        val df = T.parquet(s, if (artifact.isEmpty) r else s"$r/$artifact")
        keep.fold(df)(df.filter)
      }
      .reduce(_ unionByName _)
  }

  /** Versions present in an index directory: `v<N>` subdirectories,
    * restricted (when `requiring` is set) to those whose named artifact
    * is COMMITTED — the marker gate that makes partial writes invisible.
    */
  def versions(s: SparkSession, dir: String, requiring: String = ""): Seq[Long] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else
      fs.listStatus(path)
        .toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect {
          case n if n.startsWith("v") && n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit) =>
            n.drop(1).toLong
        }
        .filter(v =>
          requiring.isEmpty || isCommitted(s, s"$dir/v$v/$requiring"))
  }

  /** The manifest of an index directory — one row per (version, artifact)
    * with its commit status: the queryable generation log an operator or
    * spec inspects instead of re-walking the filesystem.
    */
  def manifest(s: SparkSession, dir: String): Seq[(Long, String, Boolean)] = {
    val fs = fsOf(s, dir)
    versions(s, dir).sorted.flatMap { v =>
      fs.listStatus(new Path(s"$dir/v$v"))
        .toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .sorted
        .map(a => (v, a, isCommitted(s, s"$dir/v$v/$a")))
    }
  }

  /** Full snapshots a compaction keeps. Two, so a superseded full
    * outlives the fold that superseded it by one compaction interval —
    * the same live-reader grace [[GenFamily.compact]] gives superseded
    * generations by tombstone.
    */
  val KeepFulls = 2

  /** An append-mode stream writer that runs `body` on every micro-batch.
    * It adds no emptiness check of its own: a body that skips empty
    * batches checks once itself, so no micro-batch pays an extra job.
    */
  private[graft] def appendWriter(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)

  /** Conf keys of the count/size-triggered compaction policy
    * ([[GenFamily.maybeCompact]]).
    */
  val CompactMaxGensKey = "spark.graft.index.compact.maxGens"
  val CompactGenBytesFracKey = "spark.graft.index.compact.genBytesFraction"

  /** One generation-local index family and its whole lifecycle: how to
    * build a generation from a frame, how to fold generation roots into
    * one full snapshot, and the label its errors name. Writers never
    * mark — the lifecycle methods own the commit protocol, so every
    * family seeds, commits, serves roots and compacts through one code
    * path.
    */
  final case class GenFamily(
      label: String,
      write: (SparkSession, DataFrame, String) => Unit,
      fold: (SparkSession, Seq[String], String) => Unit) {

    /** Seed an index: the base corpus becomes the committed v0 full
      * snapshot.
      */
    def seed(s: SparkSession, base: DataFrame, dir: String): Unit =
      seedWith(s, dir)(write(s, base, _))

    /** Seed an index through `body`, which writes the v0 full snapshot
      * under the path it is given — where a seed holds more than `write`
      * makes of one frame, such as an epoch model beside the corpus.
      */
    def seedWith(s: SparkSession, dir: String)(body: String => Unit): Unit =
      put(s, s"$dir/v0/$FullSub")(body)

    /** Build-once over the family layout: [[buildOnceWith]] over
      * `write` of each frame.
      */
    def buildOnce(s: SparkSession, dir: String)(frames: => Seq[DataFrame]): Boolean =
      buildOnceWith(s, dir)(frames.map(f => write(s, f, _)))

    /** Under one [[GenLog.buildOnce]] claim on `dir`, the first body
      * seeds `v0/full` and each further body commits the next generation
      * (`v1/gen`, `v2/gen`, ...). The bodies are constructed inside the
      * claim, so a skipped build runs no Spark job. A served query is a
      * seeded family; an incremental one adds one generation. Returns
      * whether the build ran.
      */
    def buildOnceWith(s: SparkSession, dir: String)(bodies: => Seq[String => Unit]): Boolean =
      GenLog.buildOnce(s, dir) {
        val gens = bodies
        seedWith(s, dir)(gens.head)
        gens.tail.zipWithIndex.foreach { case (g, i) => commitWith(s, dir, i.toLong)(g) }
      }

    /** Commit micro-batch `batchId`'s rows as generation v(batchId+1) —
      * the per-batch body of [[streamWriter]], exposed so a COMPOSED
      * pipeline (one foreachBatch driving several maintenance legs from
      * the same micro-batch) can call it directly. Idempotent per
      * (batchId, input): a retry deterministically overwrites the same
      * uncommitted directory before the marker lands.
      */
    def commit(batch: DataFrame, dir: String, batchId: Long): Unit =
      commitWith(batch.sparkSession, dir, batchId)(write(batch.sparkSession, batch, _))

    /** Commit generation v(batchId+1) through `body`, which writes it
      * under the path it is given — for a generation computed against
      * prior state rather than by `write` from the batch alone.
      */
    def commitWith(s: SparkSession, dir: String, batchId: Long)(body: String => Unit): Unit =
      put(s, s"$dir/v${batchId + 1}/$GenSub")(body)

    /** Continuous maintenance: each micro-batch writes its OWN committed
      * generation — O(batch) work and bytes, no prior state read, the
      * base snapshot never rewritten. Exactly-once without a transaction
      * log: batch b writes the fresh directory v(b+1); a retry
      * deterministically overwrites the same output from the same input
      * (the marker is re-dropped after the overwrite), and version gaps
      * from empty batches are skipped on read.
      */
    def streamWriter(df: DataFrame, dir: String, checkpoint: String): DataStreamWriter[Row] =
      appendWriter(df, checkpoint) { (batch, batchId) =>
        if (!batch.isEmpty) commit(batch, dir, batchId)
      }

    /** The roots a merge-on-read ([[read]]) unions: the newest COMMITTED full
      * snapshot (seed or compaction) plus every later committed batch
      * generation. Generations at or below the newest full are superseded
      * (folded into it); an uncommitted full (compaction crashed
      * mid-write) is invisible, so reads are unchanged until the fold
      * commits. `upTo` reads the family as of that version — the newest
      * full at or below it plus the generations in (full, upTo] — so a
      * writer that reads prior state (batch b reads as of b) never reads
      * its own committed generation when the batch is retried.
      */
    def roots(s: SparkSession, dir: String, upTo: Long = Long.MaxValue): Seq[String] = {
      val (f, gens) = live(s, dir, upTo)
      paths(dir, f, gens)
    }

    /** Compaction: fold the current roots into one full snapshot at the
      * newest committed generation version, commit it, then bound the
      * directory — superseded generations are dropped and all but the
      * newest [[KeepFulls]] full snapshots are pruned (without pruning,
      * each compaction would strand one full corpus copy forever); a
      * version directory goes with its last artifact ([[dropArtifact]]).
      * Crash-safe at every cut: the fold's partial output is uncommitted
      * (ignored), deletes only begin after the marker lands, and a crash
      * mid-delete leaves superseded dirs that the next compaction
      * re-collects.
      *
      * Live-reader grace: a reader that resolved [[roots]] just before
      * the fold committed still holds scans over the now-superseded
      * generation dirs, so deleting them here would race that reader's
      * file listing. Superseded generations are therefore TOMBSTONED on
      * the compaction that supersedes them and physically deleted only on
      * the next one — a reader outlives its snapshot for a full
      * compaction interval (superseded FULLS get the same grace
      * structurally: [[KeepFulls]] keeps the previous full through one
      * more compaction). New readers are unaffected either way —
      * [[roots]] never returns superseded paths.
      */
    def compact(s: SparkSession, dir: String): Unit = {
      // ONE listing decides both the fold inputs and the fold version: a
      // generation committed after this listing has a version above `k`
      // (stream versions are monotonic), so it can neither be missing
      // from the fold it is claimed by nor be deleted by the cleanup —
      // deriving `k` from a second listing would let a gen that landed
      // between the listings be superseded without ever being folded
      val (f, gens) = live(s, dir)
      if (gens.nonEmpty)
        put(s, s"$dir/v${gens.max}/$FullSub")(fold(s, paths(dir, f, gens), _))
      val fs = fsOf(s, dir)
      val fulls = versions(s, dir, requiring = FullSub).sorted
      val newestFull = fulls.max
      versions(s, dir, requiring = GenSub).filter(_ <= newestFull).foreach { v =>
        graceDelete(fs, new Path(s"$dir/v$v/$GenSub"))
      }
      fulls.dropRight(KeepFulls).foreach { v =>
        dropArtifact(fs, new Path(s"$dir/v$v/$FullSub"))
      }
    }

    /** Count/size-triggered compaction policy: compact when the committed
      * generations above the newest full exceed [[CompactMaxGensKey]]
      * (default 8) OR their total bytes exceed [[CompactGenBytesFracKey]]
      * (default 0.5) of the full snapshot's bytes. Each fold rewrites a
      * full corpus snapshot, so its cost is amortized only if cadence
      * scales with what accumulated: the count trigger bounds
      * merge-on-read fan-in (reads union f + gens paths), the bytes
      * trigger bounds the fraction of the corpus living in un-folded
      * generations — a composed pipeline calls this per batch and
      * self-tunes instead of relying on the caller's day-2 compaction
      * loop. Returns whether it compacted; an unseeded directory never
      * compacts.
      */
    def maybeCompact(s: SparkSession, dir: String): Boolean = {
      val fulls = versions(s, dir, requiring = FullSub)
      if (fulls.isEmpty) return false
      val f = fulls.max
      val gens = versions(s, dir, requiring = GenSub).filter(_ > f)
      if (gens.isEmpty) return false
      val maxGens =
        s.conf.getOption(CompactMaxGensKey).map(_.toInt).getOrElse(8)
      val frac =
        s.conf.getOption(CompactGenBytesFracKey).map(_.toDouble).getOrElse(0.5)
      val due = gens.size >= maxGens || {
        val fs = fsOf(s, dir)
        def bytes(p: String): Long =
          try fs.getContentSummary(new Path(p)).getLength
          catch { case _: java.io.IOException => 0L }
        val fullBytes = bytes(s"$dir/v$f/$FullSub")
        val genBytes = gens.map(v => bytes(s"$dir/v$v/$GenSub")).sum
        fullBytes > 0L && genBytes >= (fullBytes * frac).toLong
      }
      if (due) compact(s, dir)
      due
    }

    // The newest committed full snapshot at or below `upTo` and the
    // committed generations in (full, upTo], from one listing each; an
    // unseeded directory is refused with the family's label.
    private def live(s: SparkSession, dir: String, upTo: Long = Long.MaxValue): (Long, Seq[Long]) = {
      val fulls = versions(s, dir, requiring = FullSub).filter(_ <= upTo)
      require(
        fulls.nonEmpty,
        s"$label at $dir has no committed full snapshot (seed it first)")
      val f = fulls.max
      (f, versions(s, dir, requiring = GenSub).filter(v => v > f && v <= upTo).sorted)
    }

    // Every artifact of the family lands here: written whole, then marked.
    private def put(s: SparkSession, path: String)(body: String => Unit): Unit = {
      body(path)
      markCommitted(s, path)
    }

    private def paths(dir: String, f: Long, gens: Seq[Long]): Seq[String] =
      s"$dir/v$f/$FullSub" +: gens.map(v => s"$dir/v$v/$GenSub")
  }
}
