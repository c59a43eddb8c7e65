package graft.ops

import graft.{QueryDef, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier C deduplication family (SURVEY §2 Tier C + charter): exact,
  * near-dup by exact Jaccard over LSH candidates, MinHash signatures, LSH
  * banding, SimHash, embedding-cosine — the operators a 100 TB
  * training-data pipeline runs first. Design posture: everything is a
  * shuffle on a derived key column (hash, band, block) — never driver-side
  * state, never an all-pairs join on a low-cardinality key — so each op
  * scales out by partitioning alone.
  *
  * Token hashes are materialized ONCE per document in a dedicated
  * projection ([[hashedToks]]) that every signature expression consumes;
  * Catalyst keeps the projection (an expensive alias referenced many times
  * is not collapsed), so the md5 work is 1× per token instead of once per
  * signature lane.
  */
object DedupOps {

  import Hashing._

  private def docs(s: SparkSession, d: String) = T(s, d, "documents")

  /** q_dedup_exact — content-hash dedup, first-writer-wins (the md5 group
    * is the shuffle key; at scale this is one hash partition pass).
    */
  private def dedupExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(md5($"text")).orderBy($"doc_id")
    docs(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy("doc_id")
  }

  /** (doc_id, lang, th = sorted hashed distinct tokens, n = |tokens|): the
    * one tokenize+hash pass all signature ops build on. Sorted so the
    * near-dup verification is the codegen'd merge walk in
    * [[graft.expr.SortedIntersectCount]]; sorting is irrelevant to MinHash
    * (min over a set) and SimHash (±1 votes are commutative integer adds).
    */
  private[graft] def hashedToks(s: SparkSession, d: String): DataFrame =
    hashedToksOf(docs(s, d))

  /** Same tokenize+hash pass over any (doc_id, lang, text) frame — the
    * corpus pipeline feeds its gated/deduped survivor set through here.
    */
  private[graft] def hashedToksOf(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    // coalesce makes the token array non-nullable, so downstream join-key
    // IsNotNull inference cannot push isnotnull(<whole hash expression>)
    // into the scan as a DataFilter (which would evaluate the tokenize+hash
    // pass twice per row). The fused kernel replaces the
    // array_sort(transform(array_distinct(split(..)), h32)) HOF chain — one
    // tight loop per row instead of per-token interpreted md5/conv eval.
    df
      .select(
        $"doc_id",
        $"lang",
        graft.expr.TokenHashes(coalesce($"text", lit("")), sortedDistinct = true)
          .as("th"))
      .select($"doc_id", $"lang", $"th", size($"th").as("n"))
  }

  /** All NumHashes MinHash lane minima in one fused pass over th
    * ([[graft.expr.MinHashLanes]]); lane j is read back with element_at.
    * The lanes alias is referenced NumHashes times, so Catalyst keeps the
    * projection and the pass runs once per row.
    */
  private def mhCols: Seq[Column] =
    (0 until NumHashes).map(j => element_at(col("lanes"), j + 1).as(s"mh$j"))

  private def minhashSql(j: Int): String =
    s"list_min(list_transform(t, tk -> (${mhA(j)} * ${h32Sql("tk")} + ${mhB(j)}) % $P))"

  /** Signature frame: (doc_id, lang, n, mh0..mh7), token hashing and the
    * 8 lane minima each one fused pass.
    */
  private def sigFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    hashedToks(s, d)
      .select($"doc_id", $"lang", $"n", graft.expr.MinHashLanes($"th").as("lanes"))
      .select(Seq($"doc_id", $"lang", $"n") ++ mhCols: _*)
  }

  /** q_dedup_near — exact token-set Jaccard (J ≥ 0.9) verification over
    * MinHash-banded LSH candidates: the bucket-then-verify shape that holds
    * at 100 TB. Candidate pairs come from 2 bands of 4 MinHash rows each —
    * P(candidate | J) = 1-(1-J⁴)², i.e. ≥ 88% recall at exactly J = 0.9 and
    * → 1 as J → 1 — instead of any all-pairs join; the band bucket is the
    * shuffle key, so no block is ever quadratic in a language's share of the
    * corpus. Documented approximation: pairs whose signatures miss both
    * bands are not reported (the oracle applies the identical candidate
    * rule, so the check is still exact).
    *
    * Verification keeps two lossless prunes inside the candidate join
    * (same-language, and the J ≥ 0.9 size bound 10·|A| ≥ 9·|B| ∧ 10·|B| ≥
    * 9·|A|), then computes exact Jaccard with the codegen'd sorted-merge
    * intersection. Candidates travel as slim (a_id, b_id) pairs and token
    * arrays are re-fetched by key — at scale, shuffling two id columns beats
    * dragging every token array through the band explode.
    */
  private val NearBandRows = 4 // MinHash rows per band → 2 bands from 8 hashes
  private val NearBands = NumHashes / NearBandRows

  private def nearBandCol(j: Int): Column =
    (1 until NearBandRows).foldLeft(col(s"mh${NearBandRows * j}")) { (acc, k) =>
      pmod(acc * lit(131L) + col(s"mh${NearBandRows * j + k}"), lit(P))
    }

  private def nearBandSql(j: Int): String =
    (1 until NearBandRows).foldLeft(s"mh${NearBandRows * j}") { (acc, k) =>
      s"(($acc) * 131 + mh${NearBandRows * j + k}) % $P"
    }

  /** Band rows of a (doc_id, lang, th, n) sets frame: one (band_idx,
    * band_val) row per document per band, carrying lang/n/th for the
    * downstream candidate join + exact-Jaccard verify. Shared by the
    * self-join pair pipeline ([[bandedJaccardPairs]]) and the persisted
    * band-bucket index ([[buildDedupIndex]] / [[applyDedupDelta]]).
    */
  private[graft] def bandRows(sets: DataFrame): DataFrame = {
    import sets.sparkSession.implicits._
    val sig = sets
      .select($"doc_id", $"lang", $"n", $"th", graft.expr.MinHashLanes($"th").as("lanes"))
      .select(Seq($"doc_id", $"lang", $"n", $"th") ++ mhCols: _*)
    sig.select(
      $"doc_id",
      $"lang",
      $"n",
      $"th",
      posexplode(array((0 until NearBands).map(nearBandCol): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** The shared banded-Jaccard pipeline: `sets` must carry
    * (doc_id, lang, th = sorted distinct element hashes, n = |th|).
    * Threshold θ = num/den, with the lossless size bound den·|A| ≥ num·|B|
    * (∧ symmetric) applied inside the candidate join.
    *
    * Plan economics: the hash arrays ride along through the band explode
    * and the self-join is pinned to SHUFFLE_HASH, so both sides share ONE
    * shuffle of the hashed corpus (ReusedExchange — the expensive
    * tokenize+hash lineage runs once, asserted in PlanShapeSpec). The
    * alternative — slim (id, band) candidates plus fetch-back joins —
    * shuffles less data but re-reads and re-hashes the corpus once per
    * join under AQE's broadcasts, which is the wrong trade at every scale
    * factor measured. A pair sharing both bands is verified per band and
    * collapsed by the final distinct (identical i/sz both times); being a
    * shuffle join, a hot band bucket splits under AQE skew handling.
    */
  private[graft] def bandedJaccardPairs(
      s: SparkSession,
      sets: DataFrame,
      num: Int,
      den: Int,
      ordered: Boolean = true): DataFrame = {
    import s.implicits._
    val bands = bandRows(sets)
    val verified = bands
      .as("a")
      .join(
        bands.as("b").hint("shuffle_hash"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.doc_id" < $"b.doc_id" && $"a.lang" === $"b.lang" &&
          $"a.n" * den >= $"b.n" * num && $"b.n" * den >= $"a.n" * num)
      .select(
        $"a.doc_id".as("a_id"),
        $"b.doc_id".as("b_id"),
        graft.expr.SortedIntersectCount($"a.th", $"b.th").as("i"),
        ($"a.n" + $"b.n").as("sz"))
      .distinct()
      .withColumn("jaccard", $"i".cast("double") / ($"sz" - $"i").cast("double"))
      .filter($"jaccard" >= lit(num.toDouble) / lit(den.toDouble))
      .select($"a_id", $"b_id", $"jaccard")
    // ordered=false for set-consumers (the CC closure): a global sort of
    // the pair set buys nothing when the next step is a symmetrize+shuffle
    if (ordered) verified.orderBy("a_id", "b_id") else verified
  }

  private def dedupNear(s: SparkSession, d: String): DataFrame =
    bandedJaccardPairs(s, hashedToks(s, d), 9, 10)

  /** The near-dup pipeline as a CTE list ending in `pairs(a_id, b_id,
    * jaccard)`, shared by [[NearSql]] and the transitive-closure oracle
    * ([[CcSql]]).
    */
  private def nearCtes(src: String): String = {
    val sigSelect =
      "SELECT doc_id, lang, len(t) AS n, " +
        (0 until NumHashes).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ") +
        " FROM tok"
    val bandUnion = (0 until NearBands)
      .map(j => s"SELECT doc_id, lang, n, $j AS band_idx, ${nearBandSql(j)} AS band_val FROM sig")
      .mkString(" UNION ALL ")
    "tok AS (SELECT doc_id, lang, list_distinct(string_split(coalesce(text, ''), ' ')) AS t " +
      s"FROM $src), " +
      s"sig AS ($sigSelect), bands AS ($bandUnion), " +
      "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id " +
      "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val " +
      "AND a.doc_id < b.doc_id AND a.lang = b.lang " +
      "AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9), " +
      "pairs AS (SELECT a_id, b_id, jaccard FROM (" +
      "SELECT c.a_id, c.b_id, " +
      "CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE) / " +
      "(len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))) AS jaccard " +
      "FROM cand c JOIN tok ta ON ta.doc_id = c.a_id JOIN tok tb ON tb.doc_id = c.b_id) " +
      "WHERE jaccard >= 0.9)"
  }

  private val NearCtes = nearCtes("documents")

  private val NearSql =
    s"WITH $NearCtes SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id"

  /** Hook-and-contract min-label propagation: connected components over
    * an undirected `edges(src, dst)` set, labels(v) = min doc_id
    * reachable from v. Each hook round is one shuffle join (neighbor
    * labels) + one min aggregate + one pointer jump, after which the edge
    * set is CONTRACTED — every edge re-expressed over its endpoints'
    * current labels, self-loops dropped — so the next round shuffles only
    * the edges still crossing label boundaries (46 of 232k after one
    * round on the sf0.1 pair graph: clique-like near-dup components
    * collapse immediately). When the contracted set is empty, an
    * edge-free jump-only resolve phase flattens the remaining label
    * chains. Frames are `localCheckpoint`ed per round so lineage stays
    * flat (a reliable checkpoint dir is the cluster-mode equivalent);
    * rounds are O(log diameter) with a hard cap as a guard; the driver
    * holds only per-round scalars (edge count / changed count), never the
    * labels (k-means-style model-state loop, the MLlib shape).
    */
  private val CcMaxIters = 25

  /** Contracted-edge count below which the closure finishes on the driver
    * (local union-find + broadcast remap) instead of running further
    * full-label-frame hook rounds. 1M (label, label) pairs ≈ 16 MB of
    * long pairs — still bounded model state in the k-means-collect class
    * (the Lloyd codebooks and probe frames the design already collects
    * are sized by policy, not by the input), and two orders of magnitude
    * under the driver heap / maxResultSize. Raised 100k → 1M in the r18
    * optimization round: the union-find is O(α·E) single-threaded — sub-
    * second at the bound — while every distributed hook round below ~1M
    * edges is pure fixed cost (a frame-wide aggregate + two joins + a
    * checkpoint, regardless of edge count), so the crossover genuinely
    * sits above 1M on any hardware this runs on. The loop is unchanged
    * above the bound: 100 TB pair graphs (billions of edges) enter it
    * exactly as before, and adversarial graphs that never contract below
    * the bound still run the distributed path (SkewSpec/ScaleSpec).
    */
  private val CcDriverFinishEdges = 1000000L

  /** One pointer-jumping step: label(v) ← label(label(v)) via a hash
    * self-join of the label frame against itself as a lut — over the node
    * set, never the edges. One step per loop round: measured on the sf0.1
    * pair graph, a second jump resolves no extra rounds (propagation is
    * limited by new minima crossing edges, not by indirection depth) and
    * its extra self-join costs ~50% more per round.
    */
  private def pointerJump(labelFrame: DataFrame): DataFrame = {
    import labelFrame.sparkSession.implicits._
    val lut = labelFrame.select($"id".as("jid"), $"label".as("jlabel"))
    labelFrame
      .join(lut.hint("shuffle_hash"), $"label" === $"jid", "left")
      .select($"id", coalesce($"jlabel", $"label").as("label"))
  }

  /** Local min-root union-find over an edge list: every endpoint that is
    * not its component's minimum, paired with that minimum — the
    * (from, to) remap [[ccAssign]] broadcasts when a pair set fits the
    * driver bound. Min-root union keeps the component-min label, so the
    * remap is the fixpoint the distributed loop would reach.
    */
  private[ops] def minRootRemap(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges
      .flatMap { case (a, b) => Seq(a, b) }
      .distinct
      .map(x => (x, find(x)))
      .filter { case (x, r) => x != r }
      .toSeq
  }

  /** `universe` is either (doc_id [, carried cols...]) — one graph node
    * per doc — or the same plus a `rep` column — each doc attached to a
    * representative node of the edge graph (exact-duplicate collapse: the
    * closure runs over reps only, and every doc inherits its rep's
    * component label). Returns the universe's non-rep columns plus
    * `cluster_id`, unsorted — the raw assignment a pipeline stage
    * consumes (keep iff doc_id = cluster_id).
    */
  private[graft] def ccAssign(
      s: SparkSession,
      rawEdges: DataFrame,
      universe: DataFrame): DataFrame = {
    import s.implicits._
    val uni =
      if (universe.columns.contains("rep")) universe
      else universe.withColumn("rep", $"doc_id")
    // Eager checkpoint of the pair set BEFORE symmetrizing: the pair
    // lineage (band self-join + fused kernels) is an expensive plan for
    // the DRIVER, not just the executors — the union below inlines two
    // copies of it, and Catalyst re-analyzes + re-codegens that double
    // lineage once for the labels checkpoint and again for round 1's job
    // (~3 s of pure planning at sf0.1, measured). Checkpointing here pays
    // the pair job once and makes every loop plan a flat LogicalRDD.
    val pairs = rawEdges.toDF("a_id", "b_id").localCheckpoint(eager = true)
    // Pre-loop driver fast-path, same bounded-model-state rule as the
    // in-loop finish: the pair set is already materialized, so its count
    // is free — and when the WHOLE verified pair set fits the driver
    // bound (1M pairs; the collect materializes GenericRows with boxed
    // longs, so transiently ~100-200 MB on an 8 GB driver heap — well
    // bounded, and freed before the loop), the
    // closure is one local union-find + one broadcast remap instead of
    // hook rounds whose per-round fixed cost (frame-wide aggregate +
    // self-join + checkpoint) dwarfs graphs this small. Identical
    // fixpoint: min-root union ≡ min-label propagation. Above the bound
    // nothing changes — the distributed loop below runs as before (and
    // stays exercised by ScaleSpec's 10× graphs and the sf0.1 family).
    if (pairs.count() <= CcDriverFinishEdges) {
      val remap = minRootRemap(pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
      val carriedFp = universe.columns.filterNot(_ == "rep").map(uni(_))
      return if (remap.isEmpty)
        uni.select(carriedFp.toSeq :+ uni("rep").as("cluster_id"): _*)
      else {
        val m = remap.toDF("mfrom", "mto")
        uni
          .join(broadcast(m), uni("rep") === m("mfrom"), "left")
          .select(carriedFp.toSeq :+ coalesce($"mto", uni("rep")).as("cluster_id"): _*)
      }
    }
    // hash-partitioned on src for round 1's neighbor join; NOT persisted —
    // with edge contraction the full edge set is joined exactly once
    // (round 2 onward runs over the contracted set), so caching it would
    // hold executor memory for data no round reuses.
    val edges = pairs
      .union(pairs.select($"b_id", $"a_id"))
      .toDF("src", "dst")
      .repartition($"src")
    // lazy checkpoints: the convergence aggregate below is the action that
    // materializes each round's label frame, so a round is ONE job (an
    // eager checkpoint would pay a second materialization pass per round)
    //
    // init = the first hook fused into label creation: label(v) =
    // min(v, min neighbor) comes out of the same src-partitioned aggregate
    // that would otherwise only deduplicate the node set — one full
    // edge-join round saved before the loop starts
    var labels = edges
      .groupBy($"src")
      .agg(min($"dst").as("mind"))
      .select($"src".as("id"), least($"src", $"mind").as("label"))
      .localCheckpoint(eager = false)
    var iter = 0
    var converged = false
    // contract (hook-and-contract CC): re-express every edge over the
    // endpoints' CURRENT labels and drop self-loops. A label is always a
    // node of the same component, so the contracted graph connects
    // exactly the same components — and once two endpoints share a label
    // they share it forever (both follow the same label chain), so a
    // dropped edge never needs to come back.
    def contract(es: DataFrame, lbl: DataFrame): DataFrame = {
      val slut = lbl.select($"id".as("sid"), $"label".as("slabel"))
      val dlut = lbl.select($"id".as("did"), $"label".as("dlabel"))
      es.join(slut.hint("shuffle_hash"), $"src" === $"sid")
        .join(dlut.hint("shuffle_hash"), $"dst" === $"did")
        .filter($"slabel" =!= $"dlabel")
        .select($"slabel".as("src"), $"dlabel".as("dst"))
        .distinct()
        .repartition($"src") // keep the next hook join co-partitioned
        .localCheckpoint(eager = false)
    }
    // Contract IMMEDIATELY after init (round-17): the init aggregate is
    // itself the first hook (label = min over the closed neighborhood),
    // and clique-like near-dup components collapse after exactly that
    // hop — so counting the surviving cross-label edges FIRST lets a
    // collapsed graph take the bounded driver finish without ever paying
    // a full-edge hook round (per round: an edge join + a frame-wide
    // aggregate + a jump). A graph that does NOT collapse pays one
    // contraction early and runs the unchanged loop on the (never
    // larger) contracted set.
    var curEdges = contract(edges, labels)
    var edgesLeft = curEdges.count()
    while (!converged && iter < CcMaxIters) {
      if (edgesLeft > 0L && edgesLeft <= CcDriverFinishEdges) {
        // The contracted edge set — the remaining INTER-cluster links
        // between label roots — fits in driver model state (≤ 1.6 MB at
        // the bound, the k-means-collect scale). Finish the merges with
        // one local union-find and broadcast the root remap back,
        // instead of paying further full-label-frame hook rounds for a
        // vanishing edge set. Transitivity is exactly what the
        // union-find closes, so this is the same fixpoint the loop
        // would reach; min-root union keeps the component-min label
        // semantics. Chains not touched by these merges still resolve
        // in the jump-only phase below.
        val remap = minRootRemap(curEdges.collect().map(r => (r.getLong(0), r.getLong(1))))
        if (remap.nonEmpty) {
          val m = remap.toDF("mfrom", "mto")
          labels = labels
            .join(broadcast(m), labels("label") === m("mfrom"), "left")
            .select($"id", coalesce($"mto", $"label").as("label"))
            .localCheckpoint(eager = false)
        }
        edgesLeft = 0L
      } else if (edgesLeft != 0L) {
        // HOOK phase: every node takes the min label in its neighborhood
        // — hash join (labels is the per-round frame; no point sorting
        // the edges every round for a merge join) — then one pointer jump
        // (label(v) ← label(label(v))) so the improvement reaches nodes a
        // hop behind, then contraction. The round's one action is the
        // contracted-edge count, which doubles as the phase switch: a
        // dropped edge had equal endpoint labels and both endpoints
        // follow the same label chain forever after, so once no
        // cross-label edge remains every component is a single label tree
        // rooted at its min — only jump resolution is left.
        val msgs = curEdges
          .join(labels.hint("shuffle_hash"), curEdges("src") === labels("id"))
          .select($"dst".as("id"), $"label")
        val hooked = labels
          .union(msgs)
          .groupBy($"id")
          .agg(min($"label").as("label"))
        val next = pointerJump(hooked).localCheckpoint(eager = false)
        labels = next
        curEdges = contract(curEdges, next)
        edgesLeft = curEdges.count() // materializes next + curEdges: one job
      } else {
        // RESOLVE phase (edge-free): iterate pointer jumps until a jump
        // changes no label — each jump halves the depth of the remaining
        // label chains, so this is O(log depth) rounds over the node set
        // only. The changed-count join is over two small label frames and
        // detects the fixpoint the round it happens.
        val next = pointerJump(labels).localCheckpoint(eager = false)
        val changed = next
          .join(labels.select($"id", $"label".as("prev")), "id")
          .filter($"label" =!= $"prev")
          .count()
        converged = changed == 0L
        labels = next
      }
      iter += 1
    }
    val carried = universe.columns.filterNot(_ == "rep").map(uni(_))
    uni
      .join(labels, uni("rep") === labels("id"), "left")
      .select(carried.toSeq :+ coalesce($"label", $"rep").as("cluster_id"): _*)
  }

  /** [[ccAssign]] decorated with per-cluster size and a doc_id sort — the
    * standalone q_dedup_cc output contract.
    */
  private[graft] def connectedComponents(
      s: SparkSession,
      rawEdges: DataFrame,
      universe: DataFrame): DataFrame = {
    import s.implicits._
    ccAssign(s, rawEdges, universe)
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .orderBy($"doc_id")
  }

  /** The full-rebuild closure over an arbitrary (doc_id, lang, text)
    * frame: exact-dup collapse → banded pairs over reps → min-label
    * closure, returning (doc_id, cluster_id) unsorted. [[dedupCc]]
    * decorates it with cluster_size + sort; IncrementalDedupSpec runs it
    * over base ∪ delta as the ground truth that [[applyDedupDelta]]'s
    * index-only assignment must reproduce.
    *
    * Exact-duplicate collapse before the pair graph: docs with identical
    * (lang, text) are mutual near-dups by construction (J = 1, identical
    * signatures ⇒ same band buckets), so an exact group is always a
    * subset of one component, and pairing is a function of (lang, token
    * set) alone — the rep graph is exactly the quotient of the full pair
    * graph. Closing over one representative per group (rep = min doc_id,
    * so min-rep labels ≡ min-doc_id labels) and mapping members back
    * shrinks both nodes AND edges quadratically in group size — identical
    * copies are precisely what a near-dup corpus is full of, and without
    * the collapse each k-copy group contributes k(k-1)/2 edges that the
    * closure loop re-shuffles every round.
    */
  private[graft] def fullAssign(s: SparkSession, docsDf: DataFrame): DataFrame = {
    import s.implicits._
    val grouped = docsDf
      .select($"doc_id", $"lang", $"text",
        md5(coalesce($"text", lit(""))).as("h"))
      .withColumn("rep",
        min($"doc_id").over(Window.partitionBy($"lang", $"h")))
    val repToks = grouped
      .filter($"doc_id" === $"rep")
      .select(
        $"doc_id",
        $"lang",
        graft.expr.TokenHashes(coalesce($"text", lit("")), sortedDistinct = true)
          .as("th"))
      .select($"doc_id", $"lang", $"th", size($"th").as("n"))
    ccAssign(
      s,
      bandedJaccardPairs(s, repToks, 9, 10, ordered = false)
        .select($"a_id", $"b_id"),
      grouped.select($"doc_id", $"rep"))
  }

  /** q_dedup_cc — transitive duplicate-cluster resolution: pairwise
    * near-dup output is not a dedup decision (A≈B and B≈C put all three
    * in one cluster even when A and C never pair), so the pair set from
    * [[dedupNear]] is closed into connected components and every document
    * gets (cluster_id = min doc_id of its component, cluster_size).
    * Singletons are their own cluster, so the output is a total
    * assignment a dedup sink can consume directly (keep iff doc_id =
    * cluster_id). The oracle computes the identical closure as a DuckDB
    * recursive CTE over the identical pair set.
    */
  private def dedupCc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fullAssign(s, docs(s, d))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .orderBy($"doc_id")
  }

  private val CcSql =
    s"WITH RECURSIVE $NearCtes, " +
      "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
      "UNION ALL SELECT b_id, a_id FROM pairs), " +
      "reach(id, r) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst), " +
      "lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id), " +
      "asgn AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id " +
      "FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id) " +
      "SELECT doc_id, cluster_id, " +
      "count(*) OVER (PARTITION BY cluster_id) AS cluster_size " +
      "FROM asgn ORDER BY doc_id"

  /** The persisted dedup-index state of an incremental corpus build — what
    * a daily 100 TB ingest keeps between batches instead of re-closing the
    * whole corpus (the reference's own loop is incremental by design:
    * overlapping 7-day re-extract + idempotent sink, main.py:104-105,202).
    * Two frames, both parquet-friendly:
    *
    *  - md5 index: one row per distinct (lang, md5(text)) group of the
    *    base corpus with the group's resolved `cluster_id` — the exact-dup
    *    lookup a new batch anti-joins before any band work.
    *  - band index: one row per base REP (exact-dup collapse) per MinHash
    *    band — (band_idx, band_val, lang, n, th, cluster_id) — carrying
    *    the sorted token hashes so candidate verification is index-local:
    *    a probe batch never re-reads or re-tokenizes the base corpus.
    *
    * Scale shape: both indexes are linear in DISTINCT base content (reps,
    * not rows), the band index is the natural partition layout
    * (`partitionBy(band_idx)` on write), and the apply side touches only
    * the band buckets the new batch hashes into.
    */
  private[graft] def buildDedupIndex(
      s: SparkSession,
      base: DataFrame): (DataFrame, DataFrame) = {
    val (_, _, md5Index, bandIndex) = buildDedupState(s, base)
    (md5Index, bandIndex)
  }

  /** [[buildDedupIndex]] plus the two state frames the PAIR-GRAPH family
    * (verdict-r17 #1) seeds from the same one pass: the base corpus's
    * full assignment (doc_id, cluster_id) — the as-of-seed labels a
    * merge-on-read serve unions with later batch assignments — and the
    * VERIFIED rep-level pair set itself, persisted so closure/rank
    * consumers can ride maintained state instead of re-running the
    * banded-Jaccard lineage. The pair frame is eagerly checkpointed: the
    * closure and the caller's persist both consume it, and the band
    * self-join is the expensive lineage to pay exactly once.
    */
  private[graft] def buildDedupState(
      s: SparkSession,
      base: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val grouped = base
      .select($"doc_id", $"lang", $"text", md5(coalesce($"text", lit(""))).as("h"))
      .withColumn("rep", min($"doc_id").over(Window.partitionBy($"lang", $"h")))
    val repToks = grouped
      .filter($"doc_id" === $"rep")
      .select(
        $"doc_id",
        $"lang",
        graft.expr.TokenHashes(coalesce($"text", lit("")), sortedDistinct = true)
          .as("th"))
      .select($"doc_id", $"lang", $"th", size($"th").as("n"))
    val pairs = bandedJaccardPairs(s, repToks, 9, 10, ordered = false)
      .select($"a_id", $"b_id")
      .localCheckpoint(eager = true)
    // the base closure — the same quotient-graph shape as q_dedup_cc
    val labels = ccAssign(s, pairs, grouped.select($"doc_id", $"rep"))
      .localCheckpoint(eager = true) // assign output AND both index joins
    val repLabels = labels.select($"doc_id".as("rid"), $"cluster_id")
    val md5Index = grouped
      .filter($"doc_id" === $"rep")
      .select($"lang", $"h", $"doc_id".as("rid"))
      .join(repLabels, "rid")
      .select($"lang", $"h", $"cluster_id")
    val bandIndex = bandRows(repToks)
      .withColumnRenamed("doc_id", "rid")
      .join(repLabels, "rid")
      .select($"band_idx", $"band_val", $"lang", $"n", $"th", $"cluster_id")
    (labels.select($"doc_id", $"cluster_id"), pairs, md5Index, bandIndex)
  }

  /** Verified (probe doc → base cluster) attachments of a probe sets
    * frame against the persisted band index: equi-join on
    * (band_idx, band_val, lang) + the lossless size bound, exact Jaccard
    * ≥ 0.9 via the index-carried token hashes. The candidate key is the
    * band bucket, so probe cost is bounded by bucket co-occurrence — the
    * apply side never sees base rows outside the buckets it hashes into
    * (plan-asserted: equi-join + the codegen'd merge-walk verify, no
    * nested loop).
    */
  private[graft] def indexProbePairs(
      s: SparkSession,
      probeToks: DataFrame,
      bandIndex: DataFrame): DataFrame = {
    import s.implicits._
    bandRows(probeToks)
      .as("a")
      .join(
        bandIndex.as("b").hint("shuffle_hash"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.lang" === $"b.lang" &&
          $"a.n" * 10 >= $"b.n" * 9 && $"b.n" * 10 >= $"a.n" * 9)
      .select(
        $"a.doc_id".as("a_id"),
        $"b.cluster_id".as("b_id"),
        graft.expr.SortedIntersectCount($"a.th", $"b.th").as("i"),
        ($"a.n" + $"b.n").as("sz"))
      .distinct()
      .filter($"i".cast("double") / ($"sz" - $"i").cast("double") >= 0.9)
      .select($"a_id", $"b_id")
      .distinct()
  }

  /** The per-batch graph pieces shared by [[applyDedupDelta]] (assignment
    * only) and [[applyDedupDeltaIncr]] (assignment + index maintenance):
    * batch exact-dup collapse, md5-index edges, band-index edges, and the
    * batch-internal banded pairs. `checkpointToks` eagerly checkpoints the
    * tokenized unmatched reps when the caller consumes them more than
    * twice (the maintenance path reads them a third time for the new band
    * rows).
    */
  private case class DeltaGraph(
      grouped: DataFrame,
      unmatched: DataFrame,
      deltaToks: DataFrame,
      md5Edges: DataFrame,
      vsIndex: DataFrame,
      deltaPairs: DataFrame)

  private def deltaGraph(
      s: SparkSession,
      delta: DataFrame,
      md5Index: DataFrame,
      bandIndex: DataFrame,
      checkpointToks: Boolean): DeltaGraph = {
    import s.implicits._
    val grouped = delta
      .select($"doc_id", $"lang", $"text", md5(coalesce($"text", lit(""))).as("h"))
      .withColumn("rep", min($"doc_id").over(Window.partitionBy($"lang", $"h")))
    val reps = grouped
      .filter($"doc_id" === $"rep")
      .select($"doc_id", $"lang", $"text", $"h")
    val md5Edges = reps
      .join(md5Index, Seq("lang", "h"))
      .select($"doc_id".as("a_id"), $"cluster_id".as("b_id"))
    val unmatched = reps.join(md5Index, Seq("lang", "h"), "left_anti")
    val toks0 = hashedToksOf(unmatched.select($"doc_id", $"lang", $"text"))
    val deltaToks = if (checkpointToks) toks0.localCheckpoint(eager = true) else toks0
    val vsIndex = indexProbePairs(s, deltaToks, bandIndex)
    val deltaPairs = bandedJaccardPairs(s, deltaToks, 9, 10, ordered = false)
      .select($"a_id", $"b_id")
    DeltaGraph(grouped, unmatched, deltaToks, md5Edges, vsIndex, deltaPairs)
  }

  /** Incremental near-dedup apply: assign every document of a NEW batch a
    * cluster over (base ∪ delta) using only the persisted index state —
    * never the base corpus itself. Assumes batch doc_ids are greater than
    * all base doc_ids (monotone ingest ids — the reference's serial
    * PK shape), so every pre-existing cluster keeps its label and the
    * delta assignment equals the full rebuild restricted to delta rows
    * (IncrementalDedupSpec proves this; the q_dedup_incr oracle IS the
    * full rebuild, so the correctness gate re-proves it every round).
    *
    * Steps, each a keyed shuffle or map: (1) exact-dup collapse within the
    * batch; (2) batch reps equi-join the md5 index — an exact content match
    * attaches to its cluster with zero band work; (3) md5-unmatched reps
    * band-join ONLY the persisted band buckets (equi-join on
    * (band_idx, band_val, lang) + the lossless size bound) and verify
    * exact Jaccard ≥ 0.9 against the index-carried token hashes;
    * (4) batch-internal near-dup pairs from the same banded self-join as
    * q_dedup_near; (5) one closure over the delta-sized graph, where base
    * clusters are terminal nodes (their label is the component min by the
    * id-monotonicity invariant). Edges through md5-matched reps to other
    * batch docs are NOT needed: an exact match shares its base rep's token
    * set, so any batch doc near it band-matches the index directly.
    */
  private[graft] def applyDedupDelta(
      s: SparkSession,
      delta: DataFrame,
      md5Index: DataFrame,
      bandIndex: DataFrame): DataFrame = {
    import s.implicits._
    val g = deltaGraph(s, delta, md5Index, bandIndex, checkpointToks = false)
    ccAssign(
      s,
      g.md5Edges.union(g.vsIndex).union(g.deltaPairs),
      g.grouped.select($"doc_id", $"rep"))
  }

  /** [[applyDedupDelta]] plus INDEX MAINTENANCE — the full per-batch step
    * of a continuous ingest, as what it COMMITS per batch instead of a
    * rewritten index: (assignment, merge remap, new md5 groups, new band
    * rows), such that `assignment ∪ remap-applied-index ∪ new rows` is
    * semantically `buildDedupIndex(base ∪ batch)` without ever reading
    * the base corpus. Every returned frame is bounded by the BATCH:
    *
    *  - merge remap: a batch doc can BRIDGE two base clusters; the closure
    *    runs over a universe extended with the touched base-cluster nodes,
    *    so their final labels fall out of the same pass. The remap set is
    *    the batch's cluster merges (old label → surviving smaller label);
    *    labels only move down and a remapped old label's rows leave the
    *    live index, so the accumulated log is a functional acyclic pointer
    *    forest that composes transitively on read.
    *  - new md5 groups: every batch (lang, md5) group absent from the
    *    index, under its rep's final cluster.
    *  - new band rows: the md5-unmatched reps' band rows under their final
    *    clusters (an exact match adds no band rows — its token set is
    *    already indexed under its base rep).
    *
    * With monotone batch ids, sequential apply ≡ one-shot apply ≡ full
    * rebuild, inductively batch over batch (StreamingIncrDedupSpec proves
    * the chain end-to-end, including a probe in batch k+1 hitting content
    * first seen in batch k and a post-bridge probe hitting remapped rows).
    *
    * The tuple also carries the batch's VERIFIED PAIR set
    * (md5-index attachments ∪ band-index attachments ∪ batch-internal
    * banded pairs) — O(batch) slim id pairs, the per-batch generation of
    * the maintained pair graph: endpoints are batch
    * reps and as-of-commit cluster labels, so the union of all committed
    * pair generations closes to exactly the full-rebuild components
    * (a label is always a node of its own component, and later bridges
    * add edges that reconnect whatever a remap re-labels —
    * StreamingPairSpec proves the closure identity over the chain).
    */
  private[graft] def applyDedupDeltaIncr(
      s: SparkSession,
      delta: DataFrame,
      md5Index: DataFrame,
      bandIndex: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val g = deltaGraph(s, delta, md5Index, bandIndex, checkpointToks = true)
    // checkpoint the index-edge set: consumed by the closure AND (as the
    // touched-cluster list) by the universe extension + remap split below
    val baseEdges = g.md5Edges.union(g.vsIndex).localCheckpoint(eager = true)
    val uni = g.grouped
      .select($"doc_id", lit(false).as("is_base"), $"rep")
      .unionByName(
        baseEdges
          .select($"b_id".as("doc_id"))
          .distinct()
          .select($"doc_id", lit(true).as("is_base"), $"doc_id".as("rep")))
    val assigned = ccAssign(s, baseEdges.union(g.deltaPairs), uni)
      .localCheckpoint(eager = true) // read four times below
    val assign = assigned.filter(!$"is_base").select($"doc_id", $"cluster_id")
    // base-cluster labels only move DOWN to another base cluster (batch
    // ids are all larger), so the remap set is (old base label -> smaller
    // base label) and bounded by the batch's touched clusters
    val remap = assigned
      .filter($"is_base" && $"doc_id" =!= $"cluster_id")
      .select($"doc_id".as("old_cid"), $"cluster_id".as("new_cid"))
    val assignLut = assign.select($"doc_id".as("rid"), $"cluster_id")
    val md5New = g.unmatched
      .select($"lang", $"h", $"doc_id".as("rid"))
      .join(assignLut, "rid")
      .select($"lang", $"h", $"cluster_id")
    val bandNew = bandRows(g.deltaToks)
      .withColumnRenamed("doc_id", "rid")
      .join(assignLut, "rid")
      .select($"band_idx", $"band_val", $"lang", $"n", $"th", $"cluster_id")
    (assign, remap, md5New, bandNew, baseEdges.union(g.deltaPairs))
  }

  /** q_dedup_incr — incremental near-dedup of a new batch against the
    * persisted index of an already-deduped base corpus: the shape a daily
    * ingest actually runs, vs q_dedup_cc's full rebuild. The newest 10% of
    * documents by id (ids above ⌊9·max/10⌋ — monotone ingest ids make the
    * id order the arrival order) form the batch; the rest is the base whose
    * index ([[buildDedupIndex]]) stands in for yesterday's persisted state.
    * Output: (doc_id, cluster_id) for every batch document — cluster_id is
    * a base cluster when the doc joins existing content, else the min
    * batch id of its new cluster — plus is_new_cluster. The oracle is the
    * FULL rebuild over base ∪ delta restricted to delta rows, so the
    * hash-checked contract is precisely delta-apply ≡ full rebuild.
    * The query rides the persisted build-once index exactly like a daily
    * ingest would: build seeds the near-dup log's v0 md5/band snapshot
    * ONCE per warehouse root ([[StreamOps.NearDupFamily]], the state a
    * daily ingest already holds); serve applies the batch against that
    * snapshot — the daily-ingest latency.
    */
  private[graft] def dedupIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val all = docs(s, d).select($"doc_id", $"lang", $"text")
    val (base, delta) = TextOps.newestTenth(all)
    val root = graft.index.GenLog.datasetRoot(s, d) + "/dedup_incr"
    val F = StreamOps.NearDupFamily
    val build = () => { F.buildOnce(s, root)(Seq(base)); () }
    val serve = () => {
      val (md5, band) = StreamOps.nearDupState(s, F.roots(s, root))
      applyDedupDelta(s, delta, md5, band)
        .crossJoin(broadcast(TextOps.tenthThreshold(all)))
        .select(
          $"doc_id",
          $"cluster_id",
          ($"cluster_id" > $"thr").as("is_new_cluster"))
        .orderBy($"doc_id")
    }
    (build, serve)
  }

  /** q_dedup_cc_incr — the FULL-corpus closure served from maintained
    * state: where q_dedup_incr answers only the batch, this is
    * q_dedup_cc's complete (doc_id, cluster_id, cluster_size) contract
    * WITHOUT re-running the banded-Jaccard pair lineage that
    * six closure/rank queries otherwise recompute. State is the
    * near-dup log grown with per-generation verified pairs and a v0 full
    * assignment ([[StreamOps.dedupStateSeed]] /
    * [[StreamOps.incrDedupCommit]]): each ingest batch commits O(batch)
    * frames (assign, remap, pairs, and the md5/band generation), and the
    * serve is a SLIM-STATE read — union the committed assignments,
    * compose the remap pointer forest, one window for sizes. No
    * tokenization, no band self-join, no closure loop at read time; the
    * closure ran once per batch at commit. The oracle is q_dedup_cc's own
    * full-rebuild recursive CTE, so the hash gate re-proves chain-apply ≡
    * one-shot rebuild at both scales on every check (the q_dedup_incr
    * identity, extended to the full corpus).
    *
    * Build seeds the base state ONCE (the full-rebuild-shaped cost a
    * warehouse pays at bootstrap); serve is the daily-ingest figure —
    * apply the newest-10% batch against the persisted index (one
    * O(batch) commit, idempotent overwrite of v1) plus the slim
    * merge-on-read view. Serve deliberately includes the apply: that IS
    * the metric (apply ≪ rebuild), and the commit is deterministic per
    * (batch, state) so repeated serves rewrite identical bytes.
    */
  private[graft] def dedupCcIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val (base, batch) = TextOps.newestTenth(docs(s, d).select($"doc_id", $"lang", $"text"))
    val root = graft.index.GenLog.datasetRoot(s, d) + "/cc_incr"
    val F = StreamOps.NearDupFamily
    val build = () => { F.buildOnceWith(s, root)(Seq(StreamOps.dedupStateSeed(s, base, root))); () }
    val serve = () => {
      StreamOps.incrDedupCommit(batch, root, batchId = 0L)
      StreamOps.readDedupAssignments(s, root)
        .withColumn(
          "cluster_size",
          count(lit(1)).over(Window.partitionBy($"cluster_id")))
        .orderBy($"doc_id")
        // eager: the view must detach from the v1 part files — the next
        // serve's idempotent re-commit overwrites them (unique part
        // names), and a still-lazy earlier frame would read deleted
        // paths. Also puts the whole apply+read cost inside the timed
        // serve leg, where the daily-ingest figure belongs.
        .localCheckpoint(eager = true)
    }
    (build, serve)
  }

  /** q_dedup_embed_incr — incremental embedding near-dup against the
    * persisted band index: the vector-modality q_dedup_incr. Newest 50%
    * of vec_ids = the batch; the rest is the base whose index stands in
    * for yesterday's persisted state. Output: every cos ≥ 0.4 pair the
    * batch forms with base ∪ batch. The oracle is the FULL q_dedup_embed
    * pair set restricted to b_id above the threshold — the hash check is
    * the delta ≡ rebuild identity, exact (pair contract, no closure).
    *
    * 50/50 split (vs q_dedup_incr's 90/10): embedding near-pairs are two
    * orders sparser than token near-dups on this corpus, and the half
    * split is the smallest batch that exercises BOTH apply legs (index
    * probe + batch-internal) at every tested sf — the backfill-wave
    * scenario rather than the daily trickle.
    */
  private[graft] def embedIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val all = T(s, d, "embeddings").select($"vec_id", $"embedding")
    val thrDf = all.agg(expr("max(vec_id) div 2").as("thr"))
    val withThr = all.crossJoin(broadcast(thrDf))
    val base = withThr.filter($"vec_id" <= $"thr").select($"vec_id", $"embedding")
    val delta = withThr.filter($"vec_id" > $"thr").select($"vec_id", $"embedding")
    val root = graft.index.GenLog.datasetRoot(s, d) + "/embed_incr"
    val F = StreamOps.EmbedBandFamily
    val build = () => { F.buildOnce(s, root)(Seq(base)); () }
    val serve = () => applyEmbedDelta(s, delta, StreamOps.embedBands(s, F.roots(s, root)))
    (build, serve)
  }

  private val IncrSql =
    "WITH RECURSIVE thr AS (SELECT (max(doc_id) * 9) // 10 AS t FROM documents), " +
      s"$NearCtes, " +
      "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
      "UNION ALL SELECT b_id, a_id FROM pairs), " +
      "reach(id, r) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst), " +
      "lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id), " +
      "asgn AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id " +
      "FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id) " +
      "SELECT doc_id, cluster_id, cluster_id > (SELECT t FROM thr) AS is_new_cluster " +
      "FROM asgn WHERE doc_id > (SELECT t FROM thr) ORDER BY doc_id"

  /** Shingle hash = polynomial combine of the three member TOKEN hashes
    * ((h_i·131 + h_{i+1}) mod P · 131 + h_{i+2}) mod P — one md5 per token
    * (computed once in the ht projection) instead of one md5 per shingle
    * over a concatenated string; the combine is pure integer arithmetic in
    * both engines. Documents with fewer than 3 tokens degrade to a single
    * whole-document fold of the same form. Shingling is one fused pass per
    * row ([[graft.expr.ShingleHashes]]).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(
        $"doc_id",
        $"lang",
        graft.expr.TokenHashes(coalesce($"text", lit("")), sortedDistinct = false)
          .as("ht"))
      .select($"doc_id", $"lang", graft.expr.ShingleHashes($"ht").as("th"))
      .withColumn("n", size($"th"))
  }

  /** q_dedup_ngram — n-gram (3-token shingle) Jaccard near-dup: the
    * order-sensitive dedup variant (unigram sets can't tell a permuted
    * rewrite from a copy; shingles can). Same banded-LSH candidate →
    * exact-verify shape as [[dedupNear]], over the shingle-hash sets, at
    * θ = 0.8. Documents with fewer than 3 tokens degrade to a single
    * whole-text shingle. Shingle hashing is one pass; the signature/band
    * lanes reuse the hashed shingle array.
    */
  private def dedupNgram(s: SparkSession, d: String): DataFrame =
    bandedJaccardPairs(s, shingleSets(s, d), 4, 5)

  private val NgramSql = {
    val shingle = s"(((ht[i] * 131 + ht[i+1]) % $P) * 131 + ht[i+2]) % $P"
    val sigSelect =
      "SELECT doc_id, lang, len(s) AS n, " +
        (0 until NumHashes)
          .map(j => s"list_min(list_transform(s, hv -> (${mhA(j)} * hv + ${mhB(j)}) % $P)) AS mh$j")
          .mkString(", ") +
        " FROM sh"
    val bandUnion = (0 until NearBands)
      .map(j => s"SELECT doc_id, lang, n, $j AS band_idx, ${nearBandSql(j)} AS band_val FROM sig")
      .mkString(" UNION ALL ")
    "WITH tok AS (SELECT doc_id, lang, " +
      s"list_transform(string_split(coalesce(text, ''), ' '), tk -> ${h32Sql("tk")}) AS ht " +
      "FROM documents), " +
      "sh AS (SELECT doc_id, lang, CASE WHEN len(ht) >= 3 THEN " +
      s"list_distinct(list_transform(generate_series(1, len(ht)-2), i -> $shingle)) " +
      "ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), ht), " +
      s"(acc, h) -> (acc * 131 + h) % $P)] END AS s FROM tok), " +
      s"sig AS ($sigSelect), bands AS ($bandUnion), " +
      "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id " +
      "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val " +
      "AND a.doc_id < b.doc_id AND a.lang = b.lang " +
      "AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4) " +
      "SELECT a_id, b_id, jaccard FROM (" +
      "SELECT c.a_id, c.b_id, " +
      "CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / " +
      "(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard " +
      "FROM cand c JOIN sh sa ON sa.doc_id = c.a_id JOIN sh sb ON sb.doc_id = c.b_id) " +
      "WHERE jaccard >= 0.8 ORDER BY a_id, b_id"
  }

  /** q_split_contamination — train/eval contamination detection, the
    * pre-training hygiene check run before every eval is trusted: for
    * each valid/test document, the fraction of its distinct 3-token
    * shingles that appears anywhere in the train split (the
    * deterministic q_split_assign bucketing). A document whose eval
    * shingles mostly exist in train measures the train set, not the
    * model — at sf0.01 one cross-split exact duplicate scores 1.0, which
    * is precisely the leak this query exists to catch. Scale shape: one
    * shingle pass per doc (fused [[graft.expr.ShingleHashes]] kernel),
    * train shingles dedup on the shingle-hash shuffle key, eval shingles
    * left-join the train set on the same well-distributed key, one
    * per-doc count aggregate — no all-pairs comparison anywhere, so the
    * cost is linear in corpus shingle volume at any scale. Flag
    * threshold 0.65 ≈ the corpus p90 (synthetic docs share a 50-word
    * vocabulary, so background trigram overlap is high; real corpora sit
    * near 0 and flag at 0.1-0.3).
    */
  private def splitContamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = pmod(h32($"doc_id".cast("string")), lit(100L))
    val sh = docs(s, d)
      .select(
        $"doc_id",
        when(bucket < 80, "train")
          .when(bucket < 90, "valid")
          .otherwise("test")
          .as("split"),
        graft.expr.ShingleHashes(
          graft.expr.TokenHashes(coalesce($"text", lit("")), sortedDistinct = false))
          .as("sh"))
    val trainSh = sh
      .filter($"split" === "train")
      .select(explode($"sh").as("sh_val"))
      .distinct()
    sh
      .filter($"split" =!= "train")
      .select($"doc_id", $"split", explode($"sh").as("sh_val"))
      .join(trainSh.withColumn("hit", lit(1)), Seq("sh_val"), "left")
      .groupBy($"doc_id", $"split")
      .agg(count(lit(1)).as("n_shingles"), count($"hit").as("n_hits"))
      .withColumn("contam_frac",
        $"n_hits".cast("double") / $"n_shingles".cast("double"))
      .withColumn("contaminated", $"contam_frac" >= 0.65)
      .orderBy("doc_id")
  }

  private val ContaminationSql = {
    val shingle = s"(((ht[i] * 131 + ht[i+1]) % $P) * 131 + ht[i+2]) % $P"
    "WITH tok AS (SELECT doc_id, " +
      s"list_transform(string_split(coalesce(text, ''), ' '), tk -> ${h32Sql("tk")}) AS ht " +
      "FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(ht) >= 3 THEN " +
      s"list_distinct(list_transform(generate_series(1, len(ht)-2), i -> $shingle)) " +
      "ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), ht), " +
      s"(acc, h) -> (acc * 131 + h) % $P)] END AS s FROM tok), " +
      "sp AS (SELECT doc_id, " +
      s"${h32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS b, s FROM sh), " +
      "tr AS (SELECT DISTINCT unnest(s) AS sh_val FROM sp WHERE b < 80), " +
      "ev AS (SELECT doc_id, CASE WHEN b < 90 THEN 'valid' ELSE 'test' END AS split, " +
      "unnest(s) AS sh_val FROM sp WHERE b >= 80) " +
      "SELECT e.doc_id, e.split, COUNT(*) AS n_shingles, " +
      "CAST(COUNT(t.sh_val) AS BIGINT) AS n_hits, " +
      "CAST(COUNT(t.sh_val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contam_frac, " +
      "CAST(COUNT(t.sh_val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) >= 0.65 AS contaminated " +
      "FROM ev e LEFT JOIN tr t ON t.sh_val = e.sh_val " +
      "GROUP BY 1, 2 ORDER BY doc_id"
  }

  /** q_dedup_minhash — 8-permutation MinHash signature per document.
    * Portable md5-derived hashes make the whole signature oracle-checked
    * (engine-native hashes would not be); at scale the signature is a
    * narrow map-only projection, with the token hashing done once in
    * [[hashedToks]].
    */
  private def dedupMinhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    hashedToks(s, d)
      .select($"doc_id", graft.expr.MinHashLanes($"th").as("lanes"))
      .select($"doc_id" +: mhCols: _*)
      .orderBy("doc_id")
  }

  private val MinhashSql =
    "WITH tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t " +
      "FROM documents) SELECT doc_id, " +
      (0 until NumHashes).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ") +
      " FROM tok ORDER BY doc_id"

  /** Band keys over the signature: 4 bands × 2 rows (cluster assignment
    * wants high recall: P(candidate | J) = 1-(1-J²)⁴).
    */
  private val NumBands = 4
  private def bandCol(j: Int): Column =
    pmod(col(s"mh${2 * j}") * lit(131L) + col(s"mh${2 * j + 1}"), lit(P))
  private def bandSql(j: Int): String =
    s"(mh${2 * j} * 131 + mh${2 * j + 1}) % $P"

  /** q_dedup_lsh — banded-LSH dedup as cluster assignment: every document
    * gets canonical_id = min(doc_id) over all band buckets it lands in, and
    * is a duplicate iff canonical_id ≠ doc_id.
    *
    * Deliberately NOT materialized as candidate pairs: bucket contents are
    * quadratic in bucket size (a hot bucket of 10^4 docs is 5·10^7 pairs —
    * on a self-similar corpus at 100 TB that join never finishes). Bucket
    * min + per-doc min is two window/aggregate passes, O(n·bands) total,
    * and is the assignment an actual dedup sink consumes.
    */
  private def dedupLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = sigFrame(s, d).select(
      $"doc_id",
      posexplode(array((0 until NumBands).map(bandCol): _*))
        .as(Seq("band_idx", "band_val")))
    val w = Window.partitionBy($"band_idx", $"band_val")
    bands
      .withColumn("bucket_min", min($"doc_id").over(w))
      .groupBy($"doc_id")
      .agg(min($"bucket_min").as("canonical_id"))
      .withColumn("is_dup", $"doc_id" =!= $"canonical_id")
      .orderBy("doc_id")
  }

  private val LshSql = {
    val sigSelect =
      "SELECT doc_id, " +
        (0 until NumHashes).map(j => s"${minhashSql(j)} AS mh$j").mkString(", ") +
        " FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)"
    val bandUnion = (0 until NumBands)
      .map(j => s"SELECT doc_id, $j AS band_idx, ${bandSql(j)} AS band_val FROM sig")
      .mkString(" UNION ALL ")
    s"WITH sig AS ($sigSelect), bands AS ($bandUnion) " +
      "SELECT doc_id, canonical_id, doc_id <> canonical_id AS is_dup FROM (" +
      "SELECT doc_id, MIN(bucket_min) AS canonical_id FROM (" +
      "SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band_idx, band_val) AS bucket_min " +
      "FROM bands) GROUP BY doc_id) ORDER BY doc_id"
  }

  /** q_dedup_simhash — 16-bit SimHash signature: per-bit ±1 vote over the
    * pre-hashed tokens. Integer-exact, so order-independent and
    * oracle-checked; the 16 folds are cheap shift/add passes over th, the
    * md5 cost having been paid once in [[hashedToks]].
    */
  private val SimBits = 16
  private def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    hashedToks(s, d)
      .select($"doc_id", graft.expr.SimHashFold($"th", SimBits).as("simhash"))
      .orderBy("doc_id")
  }

  private val SimhashSql = {
    def bit(b: Int): String =
      "CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(t, tk -> ((${h32Sql("tk")} >> $b) % 2) * 2 - 1)), " +
        s"(a, v) -> a + v) > 0 THEN ${1L << b} ELSE 0 END"
    "SELECT doc_id, " + (0 until SimBits).map(bit).mkString(" + ") +
      " AS simhash FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t " +
      "FROM documents) ORDER BY doc_id"
  }

  /** q_dedup_embed — embedding-cosine near-dup pairs over sign-LSH banded
    * candidates: the semantic-dedup step of an LLM data pipeline, in the
    * same bucket-then-verify shape as [[dedupNear]]. Candidates = pairs
    * sharing any of 4 bands of 8 sign bits, strided across ALL 64 dims
    * (band j bit k reads dim 2·(8j+k)+1, so the 32 sampled signs span the
    * whole vector instead of its first half — full signal at identical
    * cost, and a pair that is only similar in the upper dims is still
    * discoverable, see EmbedBandSpec); verification is
    * the exact cosine (codegen'd [[graft.expr.DotProduct]], norms
    * precomputed). No all-pairs join on any low-cardinality key — band
    * buckets number 4·2⁸ here and grow with bits-per-band at larger scale.
    * Documented approximation: a pair whose signs differ in all 4 bands is
    * not reported; the oracle applies the identical candidate rule.
    *
    * Unlike [[bandedJaccardPairs]], candidates here stay slim (id pairs)
    * with vectors fetched back by key: the embed lineage is a cheap
    * fixed-width parquet read + one fused dot (no tokenize/md5 pass worth
    * deduplicating), while carrying 64-float vectors through a 4-way band
    * explode would quadruple the shuffled bytes — the opposite trade from
    * the token case, on purpose.
    */
  private val EmbBandBits = 8
  private val EmbBands = 4

  /** Stride-2 dim index: spreads the 4×8 sampled sign bits over all 64
    * dims (2·(8j+k)+1 = the odd dims, band j owning one contiguous
    * quarter) instead of burning the whole bit budget on dims 1..32.
    */
  private def embDim(j: Int, k: Int): Int = 2 * (EmbBandBits * j + k) + 1

  private def embBandCol(j: Int): Column =
    (0 until EmbBandBits)
      .map(k =>
        when(element_at(col("embedding"), embDim(j, k)) > 0f, lit(1L << k))
          .otherwise(lit(0L)))
      .reduce(_ + _)

  private def embBandSql(j: Int): String =
    (0 until EmbBandBits)
      .map(k => s"CASE WHEN embedding[${embDim(j, k)}] > 0 THEN ${1L << k} ELSE 0 END")
      .mkString(" + ")

  /** Banded candidate pairs for any (vec_id, embedding) relation given an
    * array column of band values: explode to (band_idx, band_val),
    * self-join on the bucket, emit slim distinct id pairs. Shared by the
    * raw-sign and random-hyperplane variants; the band bucket is the
    * shuffle key, so a hot bucket splits under AQE exactly as in
    * [[bandedJaccardPairs]] (asserted for this join in EmbedSkewSpec).
    */
  private[graft] def bandedCandidates(
      emb: DataFrame,
      bandsArr: Column): DataFrame = {
    import emb.sparkSession.implicits._
    val bands = emb.select(
      $"vec_id",
      posexplode(bandsArr).as(Seq("band_idx", "band_val")))
    bands
      .as("a")
      .join(
        bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("a_id"), $"b.vec_id".as("b_id"))
      .distinct()
  }

  /** Sign-LSH banded candidate pairs for any (vec_id, embedding) relation;
    * the candidate half of [[dedupEmbed]], exposed for the recall spec.
    */
  private[graft] def embBandedCandidates(emb: DataFrame): DataFrame =
    bandedCandidates(emb, array((0 until EmbBands).map(embBandCol): _*))

  /** The exact-cosine verify half shared by the embed-dedup variants:
    * fetch vectors back for the slim candidate pairs from `e`
    * (vec_id, embedding, n2), one codegen'd dot per pair, keep cos ≥ 0.4.
    */
  private[graft] def verifyCosinePairsFrom(e: DataFrame, cand: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    cand
      .join(e.select($"vec_id".as("a_id"), $"embedding".as("ea"), $"n2".as("n2a")), "a_id")
      .join(e.select($"vec_id".as("b_id"), $"embedding".as("eb"), $"n2".as("n2b")), "b_id")
      .select(
        $"a_id",
        $"b_id",
        Vec.cosine(Vec.dot($"ea", $"eb"), $"n2a", $"n2b").as("cos"))
      .filter($"cos" >= 0.4)
      .orderBy("a_id", "b_id")
  }

  private def verifyCosinePairs(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    import s.implicits._
    verifyCosinePairsFrom(
      T(s, d, "embeddings")
        .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2")),
      cand)
  }

  private def dedupEmbed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    verifyCosinePairs(
      s,
      d,
      embBandedCandidates(T(s, d, "embeddings").select($"vec_id", $"embedding")))
  }

  private val EmbedSql = {
    val bandUnion = (0 until EmbBands)
      .map(j => s"SELECT vec_id, $j AS band_idx, ${embBandSql(j)} AS band_val FROM embeddings")
      .mkString(" UNION ALL ")
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"bands AS ($bandUnion), " +
      "cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id " +
      "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val " +
      "AND a.vec_id < b.vec_id) " +
      "SELECT a_id, b_id, cos FROM (" +
      "SELECT c.a_id, c.b_id, " +
      s"${Vec.dotSql("ea.embedding", "eb.embedding")} / (sqrt(ea.n2) * sqrt(eb.n2)) AS cos " +
      "FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id) " +
      "WHERE cos >= 0.4 ORDER BY a_id, b_id"
  }

  /** The persisted EMBEDDING dedup index — the vector-modality sibling of
    * [[buildDedupIndex]]: one row per base vector per sign-LSH band
    * (band_idx, band_val, vec_id, embedding, n2), hive-partitionable on
    * band_idx. The vector and its norm ride in the index so probe
    * verification is index-local — a new batch never re-reads the base
    * embedding store. Linear in base vectors × bands; at serve time only
    * the band buckets the batch hashes into are touched.
    */
  private[graft] def buildEmbedIndex(s: SparkSession, base: DataFrame): DataFrame = {
    import s.implicits._
    base.select(
      $"vec_id",
      $"embedding",
      Vec.norm2($"embedding").as("n2"),
      posexplode(array((0 until EmbBands).map(embBandCol): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** Incremental embedding near-dup apply: all cos ≥ 0.4 pairs a NEW
    * batch forms with (base ∪ batch), computed from the persisted band
    * index alone. Two legs, both banded equi-joins: batch bands probe the
    * index (base-batch pairs, verified against the index-carried vectors)
    * and the batch self-joins its own bands (batch-internal pairs, the
    * q_dedup_embed shape on the small side). Pairs emit as (a_id < b_id),
    * and with monotone ingest ids every pair touching the batch has its
    * larger id in the batch — so the result is EXACTLY the full rebuild's
    * pair set restricted to b_id > threshold, which is what the oracle
    * computes. No closure is involved (the pair contract), so the
    * equality is exact, with no banding-recall corridor.
    */
  private[graft] def applyEmbedDelta(
      s: SparkSession,
      delta: DataFrame,
      embedIndex: DataFrame): DataFrame = {
    import s.implicits._
    val d = delta.select(
      $"vec_id",
      $"embedding",
      Vec.norm2($"embedding").as("n2"))
    val dBands = d.select(
      $"vec_id",
      $"embedding",
      $"n2",
      posexplode(array((0 until EmbBands).map(embBandCol): _*))
        .as(Seq("band_idx", "band_val")))
    val vsBase = dBands
      .as("a")
      .join(
        embedIndex.as("b").hint("shuffle_hash"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val")
      .select($"b.vec_id".as("a_id"), $"a.vec_id".as("b_id"))
      .distinct()
      .join(embedIndex.select($"vec_id".as("a_id"), $"embedding".as("ea"), $"n2".as("n2a")).distinct(), "a_id")
      .join(d.select($"vec_id".as("b_id"), $"embedding".as("eb"), $"n2".as("n2b")), "b_id")
      .select(
        $"a_id",
        $"b_id",
        Vec.cosine(Vec.dot($"ea", $"eb"), $"n2a", $"n2b").as("cos"))
      .filter($"cos" >= 0.4)
    val internal = verifyCosinePairsFrom(
      d,
      bandedCandidates(delta.select($"vec_id", $"embedding"),
        array((0 until EmbBands).map(embBandCol): _*)))
    vsBase.unionByName(internal).orderBy("a_id", "b_id")
  }

  private val EmbedIncrSql = {
    val bandUnion = (0 until EmbBands)
      .map(j => s"SELECT vec_id, $j AS band_idx, ${embBandSql(j)} AS band_val FROM embeddings")
      .mkString(" UNION ALL ")
    "WITH thr AS (SELECT max(vec_id) // 2 AS t FROM embeddings), " +
      s"e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"bands AS ($bandUnion), " +
      "cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id " +
      "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val " +
      "AND a.vec_id < b.vec_id) " +
      "SELECT a_id, b_id, cos FROM (" +
      "SELECT c.a_id, c.b_id, " +
      s"${Vec.dotSql("ea.embedding", "eb.embedding")} / (sqrt(ea.n2) * sqrt(eb.n2)) AS cos " +
      "FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id) " +
      "WHERE cos >= 0.4 AND b_id > (SELECT t FROM thr) ORDER BY a_id, b_id"
  }

  /** q_dedup_embed_rh — the production sign-LSH: k SEEDED random
    * hyperplanes instead of raw dimension signs. Raw signs (q_dedup_embed)
    * are oracle-friendly but correlated with however the embedding model
    * allocates its axes; random hyperplanes make P(bit flips) = angle/π
    * regardless of axis alignment — the standard LSH guarantee. The
    * hyperplane matrix is drawn ONCE from a fixed seed on the driver
    * (model state, like the IVF codebook) and enters the plan as a
    * broadcast literal, so sign computation stays map-side codegen
    * ([[graft.expr.DotProduct]] against a literal array) with zero extra
    * shuffles. Entries are Gaussians quantized to multiples of 1/1024:
    * exactly representable in FLOAT, DOUBLE, and a short decimal string,
    * so the DuckDB oracle evaluates the IDENTICAL hyperplanes and the
    * variant is hash-checked end-to-end, not just recall-tested
    * (HyperplaneBandSpec additionally pins recall at the same 4×8 band
    * budget as the raw-sign variant).
    */
  private val RhSeed = 20260812L
  private[graft] val rhPlanes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(RhSeed)
    Seq.fill(EmbBands * EmbBandBits)(
      Seq.fill(64)((math.rint(rnd.nextGaussian() * 1024) / 1024).toFloat))
  }

  /** All four band values in one fused codegen'd pass
    * ([[graft.expr.PlaneSignBits]]): the vector is decoded once and walks
    * the 32-plane literal matrix in a single loop, instead of 32
    * independent dot expression trees. Same strict-left-fold dot and
    * `> 0d` sign as the per-bit `when(dot > 0, 1<<k)` sum it replaces, so
    * the band values — and the oracle hashes — are bit-identical.
    */
  private def rhBandsArr: Column =
    graft.expr.PlaneSignBits(col("embedding"), typedLit(rhPlanes), EmbBandBits)

  /** Exact decimal rendering of the quantized plane (n/1024 has ≤ 10
    * fractional digits), so the SQL literal parses back to the identical
    * double in DuckDB.
    */
  private def planeSqlLit(p: Seq[Float]): String =
    p.map(f => new java.math.BigDecimal(f.toDouble).toPlainString)
      .mkString("[", ", ", "]")

  private def rhBandSql(j: Int): String =
    (0 until EmbBandBits)
      .map { k =>
        val dot = Vec.dotSql("embedding", planeSqlLit(rhPlanes(EmbBandBits * j + k)))
        s"CASE WHEN $dot > 0 THEN ${1L << k} ELSE 0 END"
      }
      .mkString(" + ")

  /** Random-hyperplane banded candidates, exposed for HyperplaneBandSpec. */
  private[graft] def rhBandedCandidates(emb: DataFrame): DataFrame =
    bandedCandidates(emb, rhBandsArr)

  private def dedupEmbedRh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    verifyCosinePairs(
      s,
      d,
      rhBandedCandidates(T(s, d, "embeddings").select($"vec_id", $"embedding")))
  }

  private val EmbedRhSql = {
    val bandUnion = (0 until EmbBands)
      .map(j => s"SELECT vec_id, $j AS band_idx, ${rhBandSql(j)} AS band_val FROM embeddings")
      .mkString(" UNION ALL ")
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"bands AS ($bandUnion), " +
      "cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id " +
      "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val " +
      "AND a.vec_id < b.vec_id) " +
      "SELECT a_id, b_id, cos FROM (" +
      "SELECT c.a_id, c.b_id, " +
      s"${Vec.dotSql("ea.embedding", "eb.embedding")} / (sqrt(ea.n2) * sqrt(eb.n2)) AS cos " +
      "FROM cand c JOIN e ea ON ea.vec_id = c.a_id JOIN e eb ON eb.vec_id = c.b_id) " +
      "WHERE cos >= 0.4 ORDER BY a_id, b_id"
  }

  /** q_pipeline_corpus — the training-corpus build as ONE declarative
    * pipeline, the composition a user of this library actually runs:
    * quality gate (length + lexical-diversity thresholds, the
    * q_text_quality features) → exact content dedup (q_dedup_exact's
    * first-writer-wins md5 pass) → deterministic 80/10/10 train/valid/test
    * split (q_split_assign's pure-function-of-key bucketing on doc_id) →
    * per-(split, lang) corpus accounting. Every stage is a map or one
    * keyed shuffle, so the whole pipeline is three exchanges end-to-end
    * (md5 window, split-lang aggregate, output sort) regardless of corpus
    * size.
    */
  private def pipelineCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(md5($"text")).orderBy($"doc_id")
    val bucket = pmod(h32($"doc_id".cast("string")), lit(100L))
    docs(s, d)
      .select(
        $"doc_id",
        $"lang",
        $"n_chars",
        $"text",
        size(split($"text", " ")).as("n_tokens"),
        size(array_distinct(split($"text", " "))).as("n_distinct"))
      .filter(
        $"n_chars" >= 100 &&
          $"n_distinct".cast("double") / $"n_tokens".cast("double") > 0.3)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select(
        $"lang",
        $"n_chars",
        when(bucket < 80, "train")
          .when(bucket < 90, "valid")
          .otherwise("test")
          .as("split"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy("split", "lang")
  }

  private val PipelineSql =
    "WITH f AS (SELECT doc_id, lang, n_chars, text FROM (" +
      "SELECT doc_id, lang, n_chars, text, " +
      "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
      "CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct " +
      "FROM documents) " +
      "WHERE n_chars >= 100 AND CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.3), " +
      "d AS (SELECT lang, n_chars, " +
      s"${h32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS b FROM f " +
      "QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) " +
      "SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split, " +
      "lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
      "FROM d GROUP BY 1, 2 ORDER BY split, lang"

  /** The kept universe of the production corpus build — quality gate →
    * exact dedup → near-dup cluster closure (keep iff representative) →
    * deterministic split assignment — one (doc_id, lang, n_chars, split)
    * row per surviving document. q_pipeline_corpus2 is its accounting;
    * CorpusExportSpec drives it through [[Sinks.writeJsonlShards]] and
    * proves the exported shards reconcile with that accounting, closing
    * the pipeline → export → trainer read-back loop.
    */
  private[graft] def corpusKept(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wMd5 = Window.partitionBy(md5($"text")).orderBy($"doc_id")
    val bucket = pmod(h32($"doc_id".cast("string")), lit(100L))
    // eager checkpoint: the gated survivor set feeds BOTH the pair branch
    // (tokenize → band join) and the final universe branch (assignment +
    // accounting); without it, the gate's fused bigram walk and the md5
    // window shuffle run twice — once per branch
    val gated = CurationOps
      .qualityGate(docs(s, d).select($"doc_id", $"lang", $"n_chars", $"text"))
      .withColumn("rn", row_number().over(wMd5))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"n_chars", $"text")
      .localCheckpoint(eager = true)
    val pairs = bandedJaccardPairs(s, hashedToksOf(gated), 9, 10, ordered = false)
      .select($"a_id", $"b_id")
    ccAssign(s, pairs, gated.select($"doc_id", $"lang", $"n_chars"))
      .filter($"cluster_id" === $"doc_id")
      .select(
        $"doc_id",
        $"lang",
        $"n_chars",
        when(bucket < 80, "train")
          .when(bucket < 90, "valid")
          .otherwise("test")
          .as("split"))
  }

  /** q_pipeline_corpus2 — the PRODUCTION corpus build: q_pipeline_corpus
    * with the full quality battery and cluster-based near-dedup composed
    * between the gate and the split. Stages: quality gate
    * ([[CurationOps.qualityGate]] — length, lexical diversity, and the
    * q_text_repetition duplicate/top-bigram signals, all map-side) →
    * exact content dedup (first-writer-wins md5 window) → near-dup
    * cluster closure over the survivors ([[bandedJaccardPairs]] at
    * θ = 0.9 → [[ccAssign]]; keep iff doc_id = cluster_id, i.e. exactly
    * one representative — the first writer — per transitive near-dup
    * cluster) → deterministic 80/10/10 split → per-(split, lang)
    * accounting. Exchange economics: the gate is a scan-time filter, the
    * md5 window and the band self-join are the two data-sized shuffles,
    * the closure loop runs over the contracted pair graph
    * (O(log diameter) rounds, each over a shrinking edge set), and the
    * final job is one small join + one aggregate + the output sort —
    * every stage is a map or one keyed shuffle at any corpus size.
    */
  private def pipelineCorpus2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    corpusKept(s, d)
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy("split", "lang")
  }

  private val Pipeline2Sql =
    "WITH RECURSIVE g0 AS (SELECT doc_id, lang, n_chars, text, " +
      "string_split(coalesce(text, ''), ' ') AS qtk FROM documents), " +
      "bgc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS tot, " +
      "CAST(count(*) AS BIGINT) AS dist, CAST(max(n) AS BIGINT) AS top FROM (" +
      "SELECT doc_id, b, count(*) AS n FROM (" +
      "SELECT doc_id, unnest(list_transform(generate_series(1, len(qtk) - 1), " +
      "i -> qtk[i] || ' ' || qtk[i+1])) AS b FROM g0) GROUP BY 1, 2) GROUP BY 1), " +
      "gated AS (SELECT g.doc_id, g.lang, g.n_chars, g.text " +
      "FROM g0 g JOIN bgc s ON s.doc_id = g.doc_id " +
      "WHERE g.n_chars >= 100 " +
      "AND CAST(len(list_distinct(g.qtk)) AS DOUBLE) / CAST(len(g.qtk) AS DOUBLE) > 0.3 " +
      "AND s.tot > 0 " +
      "AND CAST(s.tot - s.dist AS DOUBLE) / CAST(s.tot AS DOUBLE) <= 0.08 " +
      "AND CAST(s.top AS DOUBLE) / CAST(s.tot AS DOUBLE) <= 0.08 " +
      "QUALIFY row_number() OVER (PARTITION BY md5(g.text) ORDER BY g.doc_id) = 1), " +
      s"${nearCtes("gated")}, " +
      "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
      "UNION ALL SELECT b_id, a_id FROM pairs), " +
      "reach(id, r) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst), " +
      "lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id), " +
      "keep AS (SELECT g.doc_id, g.lang, g.n_chars FROM gated g " +
      "LEFT JOIN lbl l ON l.id = g.doc_id " +
      "WHERE coalesce(l.cluster_id, g.doc_id) = g.doc_id), " +
      s"d AS (SELECT lang, n_chars, ${h32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS b FROM keep) " +
      "SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split, " +
      "lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
      "FROM d GROUP BY 1, 2 ORDER BY split, lang"

  /** Distinct (doc_id, g50) window-fingerprint occurrences straight off
    * the corpus text — the registry path's edge witness.
    */
  private[graft] def passageWindowsOf(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    val m = TextOps.PassageMinMatch
    // fused window fingerprinter (r18 opt): the composed
    // transform(sequence, i -> md5(array_join(slice(tk, i, 50)))) chain
    // paid an interpreted lambda + 50-token slice + string build per
    // position (HOFs are CodegenFallback); GramMd5Hex feeds the digest
    // the same joined bytes in one codegen'd loop and emits the
    // identical lowercase-hex strings (GramsKernelSpec pins equality),
    // so the oracle SQL is unchanged.
    docsDf
      .select($"doc_id", split($"text", " ").as("tk"))
      .filter(size($"tk") >= m)
      .select($"doc_id", explode(graft.expr.GramMd5Hex($"tk", m)).as("g50"))
      .distinct()
  }

  /** Closure over any distinct (doc_id, g50) occurrence frame — the seam
    * the continuous serve shares with the registry query (the serve
    * derives its windows from the maintained 5-gram state instead of the
    * corpus text; equality of 46 consecutive gram fingerprints ⇔
    * equality of the 50-token window, so the fingerprint DIALECT may
    * differ between callers as long as it is equality-faithful).
    */
  private[graft] def passageCcFromOcc(
      s: SparkSession,
      occ: DataFrame,
      universe: DataFrame): DataFrame = {
    import s.implicits._
    val hub = occ.groupBy($"g50").agg(min($"doc_id").as("hub"))
    val edges = occ
      .join(hub, Seq("g50"))
      .filter($"doc_id" =!= $"hub")
      .select($"doc_id".as("a_id"), $"hub".as("b_id"))
      .distinct()
    ccAssign(s, edges, universe)
      .withColumn(
        "cluster_size",
        count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .orderBy($"doc_id")
  }

  /** q_dedup_passage_cc — cluster documents that share an exact
    * ≥50-token passage: the Lee et al. (arXiv:2107.06499 §4.1,
    * ExactSubstr) duplication relation turned into connected components
    * over the corpus — the grouping a curation pipeline acts on when it
    * keeps ONE carrier of a copied passage instead of scrubbing the
    * passage everywhere (the complement of q_text_scrub50's deletion:
    * there the passage is removed from all carriers, here the caller
    * keeps cluster representatives whole).
    *
    * The edge relation is EXACT, not a chain heuristic: two documents
    * share a ≥[[TextOps.PassageMinMatch]]-token passage iff they share
    * at least one aligned 50-token window, so window-fingerprint
    * equality (md5 of each 50-token slice, one per token position — the
    * same row count as the 5-gram state, 16 bytes each) is a complete
    * and sound pair witness. Components form by the min-doc STAR trick:
    * each window links its carriers to the window's minimum doc_id —
    * linear in occurrences, never the quadratic within-window pair
    * blowup — and stars preserve connectivity exactly (every carrier
    * pair is 2-hop via the hub). Closure runs on [[ccAssign]], the same
    * hook-and-contract/bounded-driver-finish kernel as q_dedup_cc; the
    * oracle replays it with the shared recursive-CTE fragment check.py
    * replaces iteratively at 10× scale.
    *
    * Scale shape: one distinct on (window, doc) — a single shuffle on
    * the fingerprint key that the min-doc aggregate and the hub join
    * both reuse — then edges ≤ occurrences, and the ccAssign quotient
    * graph is tiny (only docs that actually share passages carry
    * edges).
    */
  private def passageCc(s: SparkSession, d: String): DataFrame =
    passageCcFromOcc(
      s,
      passageWindowsOf(docs(s, d)),
      docs(s, d).select(col("doc_id")))

  private val PassageCcSql =
    "WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk " +
      "FROM documents), " +
      "occ AS (SELECT DISTINCT doc_id, g50 FROM (SELECT doc_id, " +
      "unnest(list_transform(generate_series(1, len(tk) - 49), " +
      "i -> md5(array_to_string(list_slice(tk, i, i + 49), ' ')))) AS g50 " +
      "FROM toks WHERE len(tk) >= 50)), " +
      "hub AS (SELECT g50, min(doc_id) AS hub FROM occ GROUP BY 1), " +
      "e0 AS (SELECT DISTINCT o.doc_id AS a, h.hub AS b " +
      "FROM occ o JOIN hub h USING (g50) WHERE o.doc_id <> h.hub), " +
      "edges AS (SELECT a AS src, b AS dst FROM e0 " +
      "UNION ALL SELECT b, a FROM e0), " +
      "reach(id, r) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst), " +
      "lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id), " +
      "asgn AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id " +
      "FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id) " +
      "SELECT doc_id, cluster_id, " +
      "count(*) OVER (PARTITION BY cluster_id) AS cluster_size " +
      "FROM asgn ORDER BY doc_id"

  // ─────────────────── centrality over the duplicate graph ───────────────────

  /** q_dedup_rank — PageRank (Page/Brin/Motwani/Winograd 1999) over the
    * verified near-dup graph: within a duplicate CLUSTER, the document
    * with the highest stationary mass is the best-connected
    * representative — the centrality-based canonicalization step of a
    * dedup pipeline (the same role link-graph centrality plays in
    * Common-Crawl-style corpus ranking), where q_dedup_cc only names the
    * cluster and "keep min doc_id" is an arbitrary tie-rule.
    *
    * Cross-engine bit-identity without floats: FIXED-POINT INTEGER
    * arithmetic end-to-end. Mass lives in units of 10⁻¹² (SCALE = 10¹²):
    * pr₀ = SCALE div N, teleport BASE = (15·pr₀) div 100, and each of the
    * 3 unrolled iterations is pr'(u) = BASE + (85·Σ_{v→u} pr(v) div
    * deg(v)) div 100 — every op an integer multiply/divide/sum, so Spark
    * and DuckDB agree to the last unit (floor vs truncation is moot: all
    * operands positive). Dangling/isolated mass leaks (no redistribution)
    * — declared, identical in the oracle.
    *
    * Scale shape: the banded-Jaccard edge lineage runs ONCE and the
    * symmetrized (src, dst, deg) frame materializes behind a
    * localCheckpoint; each iteration is then one equi-join of the slim
    * (doc_id, pr) frame against it plus one dst-keyed sum (map-side
    * partial combine absorbs hub in-degree skew), with pr re-checkpointed
    * per round so lineage — and recovery cost — stays one iteration deep,
    * the standard distributed-PageRank discipline. Driver state: two
    * scalars (N-derived constants).
    */
  private val PrScale = 1000000000000L
  private val PrIters = 3

  /** The fixed-point kernel over explicit (doc_id) nodes and undirected
    * (a_id, b_id) pairs — exposed so PageRankSpec can drive planted
    * graphs through the exact production arithmetic.
    */
  private[graft] def pageRank(
      docs: DataFrame,
      pairs: DataFrame,
      iters: Int = PrIters): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = docs.count()
    val pr0 = PrScale / n
    val base = 15L * pr0 / 100L
    val edges = pairs
      .select($"a_id".as("src"), $"b_id".as("dst"))
      .unionAll(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
    // NO per-iteration checkpoints (r18 opt): the iteration count is
    // FIXED and exactly one action consumes the ladder, so materializing
    // each round behind its own checkpoint split the query into
    // `iters`+1 standalone AQE executions, each paying its own
    // stage-submission round-trips. The pr chain is strictly sequential
    // (round i appears exactly once in round i+1's tree), so unrolling it
    // into ONE plan duplicates no work and lineage depth is bounded by
    // the fixed 3 rounds (the per-round-checkpoint discipline matters for
    // open-ended loops — ccAssign keeps it — not here). edgesDeg is the
    // exception and KEEPS an eager checkpoint: it is REDUCE-side join
    // work consumed by all three iterations, and exchange/stage reuse
    // dedupes only map-side output — unmaterialized, the deg-join would
    // re-execute once per round (measured +1.1 taskSec). Values unchanged
    // (PageRankSpec pins the pr ladder; the oracle hash-checks it).
    val edgesDeg = edges
      .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint()
    var pr = docs.select($"doc_id", lit(pr0).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(pr.withColumnRenamed("doc_id", "src"), "src")
        .groupBy($"dst")
        .agg(sum(expr("pr div deg")).as("s"))
      pr = docs
        .join(contribs, $"doc_id" === $"dst", "left")
        .select(
          $"doc_id",
          (lit(base) + expr(s"85 * coalesce(s, 0L) div 100")).as("pr"))
    }
    pr.orderBy("doc_id")
  }

  /** The FUSED rank+label kernel (round-17): q_dedup_rank_rep needs both
    * the stationary mass and the component closure over the SAME verified
    * pair graph, and both propagate by the same per-iteration shape — a
    * src-keyed join of a slim node frame against the checkpointed edge
    * frame plus a dst-keyed aggregate. So the min-label hook RIDES the
    * PageRank iteration's shuffle (one extra long column in the same
    * exchange) instead of paying its own full-edge hook rounds. After
    * `iters` fused rounds the pr column is VALUE-IDENTICAL to
    * [[pageRank]]'s (same joins, same integer ladder — PageRankSpec pins
    * equality) and the label column has had `iters` closed-neighborhood
    * min-hops — NOT yet the closure fixpoint; the caller finishes with
    * one edge contraction + [[ccAssign]] over the contracted graph
    * (bounded driver union-find at collapsed scale, the distributed loop
    * above the bound), which is exactly the hook-and-contract fixpoint,
    * reached with zero standalone full-edge hook rounds.
    */
  private[graft] def pageRankWithLabels(
      docs: DataFrame,
      pairs: DataFrame,
      iters: Int = PrIters): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = docs.count()
    val pr0 = PrScale / n
    val base = 15L * pr0 / 100L
    val edges = pairs
      .select($"a_id".as("src"), $"b_id".as("dst"))
      .unionAll(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
    // Unlike [[pageRank]], the fused round reads `state` TWICE (the
    // message join AND the rebuild join), so an unrolled one-plan ladder
    // duplicates round i's work 2^(iters−i) times — measured, not
    // theoretical (r18 opt attempt: taskSec doubled). The per-round
    // EAGER checkpoint therefore stays: each round references only the
    // previous round's persisted RDD, every round executes exactly once.
    val edgesDeg = edges
      .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint()
    var state = docs.select($"doc_id", lit(pr0).as("pr"), $"doc_id".as("label"))
    for (_ <- 1 to iters) {
      val m = edgesDeg
        .join(state.withColumnRenamed("doc_id", "src"), "src")
        .groupBy($"dst")
        .agg(sum(expr("pr div deg")).as("s"), min($"label").as("mlab"))
      state = state
        .join(m, $"doc_id" === $"dst", "left")
        .select(
          $"doc_id",
          (lit(base) + expr(s"85 * coalesce(s, 0L) div 100")).as("pr"),
          least($"label", coalesce($"mlab", $"label")).as("label"))
        .localCheckpoint()
    }
    state
  }

  private def dedupRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // lazy checkpoint of the pair frame (r18 opt): [[pageRank]] inlines
    // its pairs input FOUR times (the symmetrizing union feeding both the
    // degree aggregate and the edge side of the deg join), and Catalyst
    // re-analyzes the expensive band-join lineage once per copy — ~1.7 s
    // of pure planning at sf0.1, measured. The lazy checkpoint plans the
    // lineage ONCE and hands pageRank a flat LogicalRDD; the pair job
    // itself still runs inside the one consuming action (no extra job,
    // unlike the eager q_dedup_rank_rep form whose pair frame is read by
    // multiple separate actions).
    pageRank(
      T(s, d, "documents").select($"doc_id"),
      bandedJaccardPairs(s, hashedToks(s, d), 9, 10, ordered = false)
        .select($"a_id", $"b_id")
        .localCheckpoint(eager = false))
  }

  /** The shared oracle CTE chain of the rank family (docs → params →
    * symmetrized degree-carrying edges → the unrolled pr ladder), WITHOUT
    * the leading WITH or the final SELECT, so [[RankSql]] and
    * [[RankRepSql]] compose it.
    *
    * MATERIALIZED: DuckDB inlines plain CTEs per reference, and `ed` is
    * read by all three iterations while `edges` feeds both deg and ed —
    * without the hint the expensive banded-Jaccard `pairs` pipeline
    * re-runs once per reference (minutes at the 10x gate instead of
    * seconds).
    * CAST(... AS BIGINT) on every aggregate/derived integer: DuckDB's
    * sum(BIGINT) yields HUGEINT and would otherwise propagate through
    * the whole pr ladder — a cross-version type surface in the
    * hash-compared dump (the engine emits BIGINT). Exact here: total
    * mass is bounded by SCALE = 10^12, and 85·s ≤ 8.5e13 << 2^63.
    */
  private val RankChainCtes = {
    val iters = (1 to PrIters)
      .map { i =>
        s"c$i AS (SELECT ed.dst, CAST(sum(p.pr // ed.deg) AS BIGINT) AS s " +
          s"FROM ed JOIN pr${i - 1} p ON p.doc_id = ed.src GROUP BY ed.dst), " +
          s"pr$i AS (SELECT d.doc_id, CAST((SELECT base FROM params) + " +
          s"(85 * coalesce(c$i.s, 0)) // 100 AS BIGINT) AS pr " +
          s"FROM docs d LEFT JOIN c$i ON c$i.dst = d.doc_id)"
      }
      .mkString(", ")
    "docs AS (SELECT doc_id FROM documents), " +
      s"params AS (SELECT CAST($PrScale // count(*) AS BIGINT) AS pr0, " +
      s"CAST((15 * ($PrScale // count(*))) // 100 AS BIGINT) AS base FROM docs), " +
      "upairs AS MATERIALIZED (SELECT a_id, b_id FROM pairs), " +
      "edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM upairs " +
      "UNION ALL SELECT b_id AS src, a_id AS dst FROM upairs), " +
      "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), " +
      "ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src), " +
      "pr0 AS (SELECT doc_id, (SELECT pr0 FROM params) AS pr FROM docs), " +
      s"$iters"
  }

  private val RankSql =
    s"WITH $NearCtes, $RankChainCtes " +
      s"SELECT doc_id, pr FROM pr$PrIters ORDER BY doc_id"

  /** q_dedup_rank_rep — cluster CANONICALIZATION, the step the rank
    * exists for: close the same verified near-dup graph into components
    * (q_dedup_cc's rule) and pick each cluster's representative by
    * stationary mass — argmax (pr desc, doc_id asc) — so the "keep"
    * decision is the best-connected member, not an arbitrary min-id.
    * One row per cluster: (cluster_id, cluster_size, rep_id, rep_pr).
    *
    * Scale shape (round-17 fused form): the banded-Jaccard pair lineage
    * runs ONCE behind an eager checkpoint; [[pageRankWithLabels]]
    * propagates mass AND min-labels through the SAME three per-iteration
    * exchanges (the closure's standalone hook rounds are gone); the
    * closure then finishes on the label-contracted graph — one
    * two-join contraction of the one-directional pair frame, then
    * [[ccAssign]] whose bounded driver union-find handles the collapsed
    * graph (the distributed loop unchanged above the bound). The final
    * cut is one groupBy(cluster_id) argmax via a max(struct) partial
    * aggregate — no per-cluster window over the corpus.
    */
  private def dedupRankRep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docsF = T(s, d, "documents").select($"doc_id")
    val pairs = bandedJaccardPairs(s, hashedToks(s, d), 9, 10, ordered = false)
      .select($"a_id", $"b_id")
      .localCheckpoint(eager = true)
    val st = pageRankWithLabels(docsF, pairs) // checkpointed; read 4x below
    val lutA = st.select($"doc_id".as("aid"), $"label".as("la"))
    val lutB = st.select($"doc_id".as("bid"), $"label".as("lb"))
    // contract the ONE-DIRECTIONAL pair frame over the fused labels:
    // ccAssign symmetrizes internally, so both directions never shuffle
    // here; a label is always a node of the same component, so the
    // contracted graph connects exactly the same components
    val contracted = pairs
      .join(lutA.hint("shuffle_hash"), $"a_id" === $"aid")
      .join(lutB.hint("shuffle_hash"), $"b_id" === $"bid")
      .filter($"la" =!= $"lb")
      .select($"la".as("a_id"), $"lb".as("b_id"))
      .distinct()
    val cc = ccAssign(s, contracted, st.select($"doc_id", $"label".as("rep")))
    cc.join(st.select($"doc_id", $"pr"), Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        max(struct($"pr".as("pr"), (-$"doc_id").as("nid"))).as("m"))
      .select(
        $"cluster_id",
        $"cluster_size",
        (-$"m.nid").as("rep_id"),
        $"m.pr".as("rep_pr"))
      .orderBy($"cluster_id")
  }

  private val RankRepSql =
    s"WITH RECURSIVE $NearCtes, $RankChainCtes, " +
      "reach(id, r) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst), " +
      "lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id), " +
      "asgn AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id " +
      "FROM docs d LEFT JOIN lbl l ON l.id = d.doc_id), " +
      "ranked AS (SELECT a.cluster_id, p.doc_id, p.pr, " +
      "row_number() OVER (PARTITION BY a.cluster_id ORDER BY p.pr DESC, p.doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY a.cluster_id) AS csize " +
      s"FROM asgn a JOIN pr$PrIters p ON p.doc_id = a.doc_id) " +
      "SELECT cluster_id, CAST(csize AS BIGINT) AS cluster_size, " +
      "doc_id AS rep_id, pr AS rep_pr " +
      "FROM ranked WHERE rn = 1 ORDER BY cluster_id"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_rank", dedupRank, Some(RankSql)),
    QueryDef("q_dedup_rank_rep", dedupRankRep, Some(RankRepSql)),
    QueryDef("q_pipeline_corpus", pipelineCorpus, Some(PipelineSql)),
    QueryDef("q_dedup_passage_cc", passageCc, Some(PassageCcSql)),
    QueryDef("q_pipeline_corpus2", pipelineCorpus2, Some(Pipeline2Sql)),
    QueryDef(
      "q_dedup_exact",
      dedupExact,
      Some(
        "SELECT doc_id, lang, source, n_chars FROM documents " +
          "QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 " +
          "ORDER BY doc_id")),
    QueryDef("q_dedup_near", dedupNear, Some(NearSql)),
    QueryDef("q_dedup_cc", dedupCc, Some(CcSql)),
    QueryDef.served("q_dedup_cc_incr", dedupCcIncrSplit, CcSql),
    QueryDef.served("q_dedup_incr", dedupIncrSplit, IncrSql),
    QueryDef("q_split_contamination", splitContamination, Some(ContaminationSql)),
    QueryDef("q_dedup_ngram", dedupNgram, Some(NgramSql)),
    QueryDef("q_dedup_minhash", dedupMinhash, Some(MinhashSql)),
    QueryDef("q_dedup_lsh", dedupLsh, Some(LshSql)),
    QueryDef("q_dedup_simhash", dedupSimhash, Some(SimhashSql)),
    QueryDef("q_dedup_embed", dedupEmbed, Some(EmbedSql)),
    QueryDef.served("q_dedup_embed_incr", embedIncrSplit, EmbedIncrSql),
    QueryDef("q_dedup_embed_rh", dedupEmbedRh, Some(EmbedRhSql))
  )
}
