package graft.ops

import graft.{QueryDef, T, X}
import graft.index.GenLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier C similarity search over the embeddings table (SURVEY §2 Tier C):
  * blocked pairwise cosine, brute-force top-k (the correctness baseline),
  * and a sign-LSH-bucketed multi-probe ANN variant (the scale path:
  * candidate set shrinks ~2^bits-fold before any distance math). The dot
  * product is the codegen'd [[graft.expr.DotProduct]] kernel — no UDFs —
  * and every float op is bit-identical to the DuckDB oracle.
  */
object SimilarityOps {

  private def emb(s: SparkSession, d: String) =
    T(s, d, "embeddings")

  /** Sign-LSH bucket: 8 leading-dimension sign bits → 256 buckets.
    * Deterministic (no random hyperplanes) so the oracle can replicate it;
    * real deployments would draw the hyperplanes once and broadcast them,
    * and scale bits with log(corpus) so bucket occupancy stays bounded.
    */
  private[graft] val SignBits = 8
  private[graft] def bucketCol = {
    (0 until SignBits)
      .map(j =>
        when(element_at(col("embedding"), j + 1) > 0f, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  private[graft] val BucketSql = (0 until SignBits)
    .map(j => s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
    .mkString(" + ")

  /** q_sim_cosine — exact pairwise cosine within (label × sign-bucket)
    * blocks: the blocked verify primitive of a similarity pipeline. The
    * join key has |labels|·2^SignBits values (2560 here, growing with
    * SignBits at scale), so no block is ever a constant fraction of the
    * corpus — the all-pairs-within-label shape this replaces is quadratic
    * on a ≤16-value key and unrunnable at 100 TB.
    */
  private def simCosine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d)
      .select(
        $"vec_id",
        $"label",
        $"embedding",
        Vec.norm2($"embedding").as("n2"),
        bucketCol.as("bucket"))
    e.as("a")
      .join(
        e.as("b"),
        $"a.label" === $"b.label" && $"a.bucket" === $"b.bucket" &&
          $"a.vec_id" < $"b.vec_id")
      .select(
        $"a.vec_id".as("a_id"),
        $"b.vec_id".as("b_id"),
        X.r6(
          Vec.cosine(Vec.dot($"a.embedding", $"b.embedding"), $"a.n2", $"b.n2"))
          .as("cos"))
      .orderBy("a_id", "b_id")
  }

  private val CosineSql =
    s"WITH e AS (SELECT vec_id, label, embedding, ${Vec.norm2Sql("embedding")} AS n2, " +
      s"$BucketSql AS bucket FROM embeddings) " +
      "SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
      s"floor((${Vec.dotSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM e a JOIN e b ON a.label = b.label AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id ORDER BY a_id, b_id"

  /** q_sim_topk — brute-force cosine top-k for a probe vector (vec_id 0):
    * one broadcast of the probe, a map-side dot product per row, then
    * TakeOrderedAndProject — no shuffle of the corpus at all.
    */
  private def simTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val probe = e
      .filter($"vec_id" === 0)
      .select($"embedding".as("p"), $"n2".as("pn2"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select(
        $"vec_id",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  private val TopkSql =
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      "probe AS (SELECT embedding AS p, n2 AS pn2 FROM e WHERE vec_id = 0) " +
      "SELECT vec_id, " +
      s"floor((${Vec.dotSql("embedding", "p")} / (sqrt(n2) * sqrt(pn2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM e, probe WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10"

  /** q_sim_ann — LSH-bucketed multi-probe ANN: candidates restricted to the
    * probe's sign bucket plus its 8 Hamming-distance-1 neighbor buckets
    * before any distance computation (single-probe loses every neighbor
    * that flips one boundary sign; multi-probe is the standard recall
    * repair). The bucket column is the partition key at scale (IVF-style:
    * one shuffle to bucket, the probe set reads 9 of 256 partitions).
    */
  private def simAnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select(
      $"vec_id",
      $"embedding",
      Vec.norm2($"embedding").as("n2"),
      bucketCol.as("bucket"))
    val probes = e
      .filter($"vec_id" === 0)
      .select(
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(
          array(
            $"bucket" +:
              (0 until SignBits).map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*))
          .as("pbucket"))
    e.join(broadcast(probes), $"bucket" === $"pbucket")
      .filter($"vec_id" =!= 0)
      .select(
        $"vec_id",
        $"bucket",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  private[graft] val ProbeListSql =
    ("bucket" +: (0 until SignBits).map(j => s"xor(bucket, ${1L << j})")).mkString(", ")

  /** Shared ANN CTE prefix (corpus with norms/buckets + the exploded
    * multi-probe bucket list for vec_id 0) — reused by q_sim_fetch's oracle
    * so the fetch-back query's hit set is definitionally q_sim_ann's.
    */
  private val AnnCtes =
    s"e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2, " +
      s"$BucketSql AS bucket FROM embeddings), " +
      "probe AS (SELECT embedding AS p, n2 AS pn2, " +
      s"unnest([$ProbeListSql]) AS pbucket FROM e WHERE vec_id = 0)"

  private val AnnSelect =
    "SELECT vec_id, bucket, " +
      s"floor((${Vec.dotSql("embedding", "p")} / (sqrt(n2) * sqrt(pn2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM e JOIN probe ON bucket = pbucket WHERE vec_id <> 0 " +
      "ORDER BY cos DESC, vec_id LIMIT 10"

  private val AnnSql = s"WITH $AnnCtes $AnnSelect"

  /** q_sim_batch — batch-probe ANN: the production retrieval shape. A probe
    * TABLE (vec_id < BatchProbes) replaces the single hardcoded probe: each
    * probe explodes to its Hamming-1 multi-probe bucket list, the probe set
    * is broadcast, and the corpus joins on its bucket column ONCE for all
    * probes — zero corpus re-shuffle per probe (the per-probe plans would
    * scan the corpus |probes| times). Top-k per probe is a row_number window
    * partitioned by probe_id over the already-bucket-pruned candidate set,
    * so the only hash Exchange in the plan moves candidates, not the corpus
    * (plan-asserted in PlanShapeSpec). At scale the probe set is the QPS
    * batch (thousands of rows — still broadcastable) and the corpus side
    * stays a single bucket-partitioned pass.
    */
  private val BatchProbes = 5
  private def simBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select(
      $"vec_id",
      $"embedding",
      Vec.norm2($"embedding").as("n2"),
      bucketCol.as("bucket"))
    val probes = e
      .filter($"vec_id" < BatchProbes)
      .select(
        $"vec_id".as("probe_id"),
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(
          array(
            $"bucket" +:
              (0 until SignBits).map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*))
          .as("pbucket"))
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    e.join(broadcast(probes), $"bucket" === $"pbucket" && $"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"probe_id", $"vec_id", $"cos")
      .orderBy($"probe_id", $"cos".desc, $"vec_id")
  }

  private val BatchSql =
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2, " +
      s"$BucketSql AS bucket FROM embeddings), " +
      "probe AS (SELECT vec_id AS probe_id, embedding AS p, n2 AS pn2, " +
      s"unnest([$ProbeListSql]) AS pbucket FROM e WHERE vec_id < $BatchProbes), " +
      "cand AS (SELECT probe_id, e.vec_id AS vec_id, " +
      s"floor((${Vec.dotSql("e.embedding", "p")} / (sqrt(e.n2) * sqrt(pn2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM e JOIN probe ON e.bucket = probe.pbucket AND e.vec_id <> probe.probe_id) " +
      "SELECT probe_id, vec_id, cos FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn " +
      "FROM cand) WHERE rn <= 10 ORDER BY probe_id, cos DESC, vec_id"

  /** q_sim_fetch — the retrieval surface end-to-end: q_sim_ann's top-k hit
    * ids joined back to `documents` to return text, not ids. The ≤10-row
    * hit set is broadcast, so the fetch-back is one streamed pass over the
    * documents scan with no shuffle of either side.
    */
  private def simFetch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hits = simAnn(s, d).select($"vec_id".as("hit_id"), $"cos")
    T(s, d, "documents")
      .join(broadcast(hits), $"doc_id" === $"hit_id")
      .select(
        $"doc_id",
        $"cos",
        $"lang",
        $"source",
        $"n_chars",
        substring($"text", 1, 40).as("snippet"))
      .orderBy($"cos".desc, $"doc_id")
  }

  private val FetchSql =
    s"WITH $AnnCtes, hits AS ($AnnSelect) " +
      "SELECT d.doc_id, h.cos, d.lang, d.source, d.n_chars, " +
      "substring(d.text, 1, 40) AS snippet " +
      "FROM documents d JOIN hits h ON d.doc_id = h.vec_id " +
      "ORDER BY cos DESC, doc_id"

  /** q_sim_ivf — IVF-style ANN: a broadcast coarse quantizer (16 cells)
    * assigns every vector to its nearest centroid; the probe searches only
    * its nprobe=2 nearest cells. The cell column is the partition key at
    * scale — one shuffle to build the inverted file, the probe reads 2 of
    * 16 cell partitions, and cells grow with √corpus in a real deployment.
    * Centroids here are a deterministic stand-in (the first 16 vectors) so
    * the oracle can replicate assignment exactly; [[trainCodebook]] is the
    * production path (Lloyd k-means, validated by recall agreement in
    * IvfTrainSpec rather than an oracle hash) and q_sim_ivf_trained runs
    * it end-to-end. Assignment is a map-side argmin over the broadcast
    * codebook — no Exchange touches the embeddings between scan and cell
    * assignment (the old crossJoin×k + row_number formulation pushed a
    * k×-expanded corpus through a shuffle just to rank it).
    */
  private val IvfCells = 16
  private val NProbe = 2

  /** One-row codebook: the k centroids as a c_id-sorted array of structs.
    * Broadcast of this row is the "ship the quantizer to every executor"
    * step of a real IVF build (sort_array pins the order — collect_list
    * alone is partition-order-dependent).
    */
  private[graft] def codebookRow(cents: DataFrame): DataFrame = {
    import cents.sparkSession.implicits._
    cents.groupBy().agg(
      sort_array(collect_list(struct($"c_id", $"c", $"cn2"))).as("cb"))
  }

  /** Per-row scores against every codebook entry as one fused codegen'd
    * kernel ([[graft.expr.CodebookScores]]): array of struct(ccos, -c_id),
    * so `array_max` over it is the argmin assignment with the same
    * (cos desc, c_id asc) tie-break the previous row_number formulation
    * used, and `reverse(array_sort(_))` ranks cells for the probe — all
    * map-side, no Exchange between the embeddings scan and assignment.
    * (Through round 4 this was k inline struct expressions; the 16-wide
    * projection broke janino after Spark's method splitting and silently
    * ran interpreted — the fused expression is one short WSCG block.)
    */
  private[graft] def scoredCol =
    graft.expr.CodebookScores(col("embedding"), col("n2"), col("cb"))

  /** IVF probe: assign every vector to its best cell, search the probe
    * vector's top-nprobe cells only. Shared by the stand-in-codebook oracle
    * variant and the k-means-trained variant.
    */
  private def ivfSearch(
      e: DataFrame,
      cents: DataFrame,
      nprobe: Int): DataFrame = {
    import e.sparkSession.implicits._
    val assigned = e
      .crossJoin(broadcast(codebookRow(cents)))
      .select(
        $"vec_id",
        $"embedding",
        $"n2",
        scoredCol.as("scored"))
    val cells = assigned.select(
      $"vec_id",
      $"embedding",
      $"n2",
      (-array_max($"scored").getField("nid")).as("cell"))
    val probeCells = assigned
      .filter($"vec_id" === 0)
      .select(explode(slice(reverse(array_sort($"scored")), 1, nprobe)).as("sc"))
      .select((-$"sc.nid").as("pcell"))
    val probe =
      e.filter($"vec_id" === 0).select($"embedding".as("p"), $"n2".as("pn2"))
    cells
      .join(broadcast(probeCells), $"cell" === $"pcell")
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select(
        $"vec_id",
        $"cell",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  private def simIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cents = e
      .filter($"vec_id" < IvfCells)
      .select($"vec_id".as("c_id"), $"embedding".as("c"), $"n2".as("cn2"))
    ivfSearch(e, cents, NProbe)
  }

  /** Deterministic training-input cap — the FAISS posture at 100 TB:
    * Lloyd fits k centroids, so it needs O(k) representative vectors, not
    * the corpus (FAISS trains on ~39-256 points per centroid and encodes
    * the rest). Keep every seed row (vec_id < k, the init contract) plus
    * a salted-hash slice sized to ≈ perCell·k rows — membership is a pure
    * function of vec_id (the q_sample_hash idiom: reproducible across
    * engines, task retries, partitionings; no RNG state in tasks), so the
    * trained centroids stay deterministic and the dump-time decimal-
    * literal oracles render the same codebook the engine used. Below the
    * cap the input passes through untouched — training ≡ full-corpus
    * training at small scale, and the 12-scans-of-the-lake cost this
    * replaces only ever existed above it.
    */
  private[graft] def trainSample(
      e: DataFrame,
      k: Int,
      perCell: Int = 256): DataFrame = {
    import e.sparkSession.implicits._
    val cap = perCell.toLong * k
    val n = e.count()
    if (n <= cap) e
    else {
      val buckets = 1000000L
      val keep = cap * buckets / n
      // localCheckpoint: the capped sample (≈ perCell·k rows, driver-safe
      // by construction) materializes ONCE, so the Lloyd iterations that
      // follow re-read a bounded in-memory frame instead of re-scanning
      // the corpus file once per pass — at the 100 TB north star training
      // touches the embedding store exactly twice (count + sample build).
      // Below the cap the input passes through untouched, so no plan a
      // small-sf spec pins ever changes.
      e.filter(
        $"vec_id" < k ||
          pmod(
            Hashing.h32(concat(lit("lloyd|"), $"vec_id".cast("string"))),
            lit(buckets)) < keep)
        .localCheckpoint()
    }
  }

  /** THE Lloyd kernel — every trained quantizer in the engine (IVF coarse,
    * semantic √N-cell, PQ sub-codebooks) runs through this one loop:
    * init = the k lowest vec_ids per group (fixed seed rows, no RNG), a
    * fixed iteration count, and exact-decimal elementwise means so the
    * trained centroids do not depend on partition order (a double `avg`
    * would). Two assignment flavors, both the exact rule their encode
    * path uses so training and encoding can never disagree on a boundary:
    * cosine (the coarse/semantic probe metric, the fused
    * [[graft.expr.CodebookScores]] argmax with (cos desc, c_id asc)
    * tie-break) and L2 (the PQ paper's metric: argmin cn2 − 2·dot with
    * c_id tie-break — the ‖x‖² term is constant within a row's argmin).
    *
    * GROUPED: the input carries a `grp` column (PQ subspace id; a single
    * group for the flat quantizers) and ONE broadcast bundle ships every
    * group's codebook, so each Lloyd iteration is ONE distributed pass —
    * assign map-side against `element_at(mcb, grp+1)`, then one
    * (grp, cell, pos)-keyed decimal-mean job. Training all PqM subspaces
    * costs `iters` corpus scans, not PqM·iters (the round-14 plan ran 12).
    * Model state (groups×k×dim floats per pass) collects to the driver —
    * the same shape MLlib's KMeans uses — while every data pass stays
    * distributed, so this trains unchanged on a 1000-executor corpus.
    */
  private[graft] def trainLloyd(
      xs0: DataFrame, // (grp INT, vec_id LONG, x ARRAY<FLOAT>)
      k: Int,
      iters: Int,
      groups: Int,
      cosine: Boolean): Map[Int, Seq[(Long, Seq[Float])]] = {
    val s = xs0.sparkSession
    import s.implicits._
    // r18 opt note (tried and REVERTED): repartitioning the bounded
    // sample across all cores before the loop cut each iteration's
    // single-task 0.23 s map stage to ~30 ms of wall but cost ~0.45 s of
    // CPU PER TASK in per-task fixed overhead (measured 6-15 taskSec per
    // iteration stage at 32 partitions vs 0.23 single-task) — a 40×
    // CPU-for-wall trade that is wrong at every scale. The sample is
    // O(256·k) rows by the FAISS posture; one task per Lloyd pass IS the
    // intended cost envelope.
    // a NULL vector has no coordinates: it neither moves a mean nor
    // counts toward one (and has no cell under the cosine scores)
    val xs = xs0.filter($"x".isNotNull)
    val seeds = xs
      .filter($"vec_id" < k)
      .select($"grp", $"vec_id", $"x")
      .as[(Int, Long, Seq[Float])]
      .collect()
    // a short seed set would silently score against null-field structs
    // downstream (element_at past the codebook end) instead of failing here
    require(
      seeds.length == groups * k,
      s"trainLloyd: ${seeds.length} seed rows with vec_id < $k over $groups group(s) " +
        s"(need exactly ${groups * k})")
    var cb: Map[Int, Seq[(Long, Seq[Float])]] = seeds
      .groupBy(_._1)
      .view
      .mapValues(_.sortBy(_._2).zipWithIndex.map { case ((_, _, v), i) =>
        (i.toLong, v)
      }.toSeq)
      .toMap
    for (_ <- 1 to iters) {
      // per-GROUP codebook rows, attached by a broadcast HASH join on grp
      // so the hot expression reads `cb` as a top-level column — the same
      // attribute-bound shape the pre-unification loops used. (A one-row
      // nested bundle with per-row element_at extraction measured 2×
      // slower here: the extraction re-materializes the codebook array
      // per row instead of binding a pointer once per join row.)
      val grpCbs = cb.toSeq
        .flatMap { case (g, es) => es.map { case (id, v) => (g, id, v) } }
        .toDF("grp", "c_id", "c")
        .select($"grp", $"c_id", $"c", Vec.norm2($"c").as("cn2"))
        .groupBy($"grp")
        .agg(sort_array(collect_list(struct($"c_id", $"c", $"cn2"))).as("cb"))
      val cell =
        if (cosine)
          -array_max(graft.expr.CodebookScores($"x", Vec.norm2($"x"), $"cb"))
            .getField("nid")
        else
          array_min(transform($"cb", c =>
            struct(
              (c.getField("cn2") - lit(2d) * Vec.dot($"x", c.getField("c"))).as("d2"),
              c.getField("c_id").as("c_id")))).getField("c_id")
      // FUSED decimal means (r19 opt, guide §4.1/§2.4 — the r18 "not
      // yet" item): the posexplode form blew every vector into dim×
      // (grp, cell, pos, v) rows and paid TWO keyed aggregations per
      // pass (per-pos mean, then re-collect the arrays);
      // [[graft.expr.VecDecimalSum]] sums the decimal-cast vectors
      // elementwise in ONE (grp, cell) object-hash aggregation with
      // map-side combine. Bit-identical by construction: the cast is
      // Spark's own float→decimal(27,10), exact addition at fixed scale
      // matches sum(), the output type decimal(37,10) matches sum()'s,
      // and the per-element (s / cnt).cast(float) division is the same
      // expression over the same types as before (the value-pinning
      // specs and the dump-time decimal-literal oracles re-prove it).
      val means = xs
        .join(broadcast(grpCbs), Seq("grp"))
        .select($"grp", cell.as("cell"), $"x")
        .groupBy($"grp", $"cell")
        .agg(
          graft.expr.VecDecimalSum(
            transform($"x", v => v.cast("decimal(27,10)"))).as("sums"),
          count($"x").as("cnt"))
        .select(
          $"grp",
          $"cell",
          transform($"sums", sv => (sv / $"cnt").cast("float")).as("c"))
        .as[(Int, Long, Seq[Float])]
        .collect()
        .map { case (g, c, v) => (g, c) -> v }
        .toMap
      // a cell that captured no vectors keeps its previous centroid
      cb = cb.map { case (g, es) =>
        g -> es.map { case (id, old) => (id, means.getOrElse((g, id), old)) }
      }
    }
    cb
  }

  /** Deterministic Lloyd k-means for the IVF coarse quantizer — the
    * cosine single-group instantiation of [[trainLloyd]]; assignment uses
    * the same (cos desc, c_id asc) tie-break as the probe path.
    */
  private[graft] def trainCodebook(
      e: DataFrame,
      k: Int,
      iters: Int): Seq[(Long, Seq[Float])] = {
    import e.sparkSession.implicits._
    trainLloyd(
      e.select(lit(0).as("grp"), $"vec_id", $"embedding".as("x")),
      k,
      iters,
      groups = 1,
      cosine = true)(0)
  }

  /** q_sim_ivf_trained — the production IVF path end-to-end: train the
    * coarse quantizer with [[trainCodebook]], then the same map-side
    * broadcast-codebook probe as q_sim_ivf. No SQL oracle (Lloyd k-means
    * is not oracle-expressible for the driver's hash compare); validated
    * by IvfTrainSpec (determinism + recall agreement vs the brute-force
    * top-k) plus the driver's rows-only check.
    */
  private[graft] def simIvfTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d)
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cb = trainCodebook(trainSample(e, IvfCells), IvfCells, iters = 4)
    val cents =
      cb.toDF("c_id", "c").select($"c_id", $"c", Vec.norm2($"c").as("cn2"))
    ivfSearch(e, cents, NProbe)
  }

  /** Exact-decimal SQL literal for a (trained) codebook: each float
    * widened to double is exact, and BigDecimal of that double renders
    * the exact decimal string, so DuckDB parses back the IDENTICAL
    * double the engine's arithmetic uses — the q_dedup_embed_rh
    * hyperplane-literal idiom, applied to Lloyd output instead of a
    * seeded matrix. cn2 is recomputed in SQL from the same literals
    * through the same left fold, so every IEEE operation downstream
    * matches bit-for-bit.
    */
  private def centsLitCte(cb: Seq[(Long, Seq[Float])]): String = {
    val rows = cb
      .map { case (id, v) =>
        s"(CAST($id AS BIGINT), CAST(" +
          v.map(f => new java.math.BigDecimal(f.toDouble).toPlainString)
            .mkString("[", ", ", "]") +
          " AS DOUBLE[]))"
      }
      .mkString(", ")
    s"cents AS (SELECT c_id, c, ${Vec.norm2Sql("c")} AS cn2 " +
      s"FROM (VALUES $rows) AS t(c_id, c))"
  }

  /** The IVF oracle chain, parameterized by the cents CTE: the fixed
    * first-k stand-in codebook for q_sim_ivf, a trained-codebook literal
    * ([[centsLitCte]]) for q_sim_ivf_trained's dump-time oracle.
    */
  private def ivfSqlWith(centsCte: String): String =
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"$centsCte, " +
      "scored AS (SELECT e.vec_id, e.embedding, e.n2, cents.c_id, " +
      s"${Vec.dotSql("e.embedding", "cents.c")} / (sqrt(e.n2) * sqrt(cents.cn2)) AS ccos " +
      "FROM e, cents), " +
      "ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn " +
      "FROM scored), " +
      "cells AS (SELECT vec_id, embedding, n2, c_id AS cell FROM ranked WHERE rn = 1), " +
      s"pcells AS (SELECT c_id AS pcell FROM ranked WHERE vec_id = 0 AND rn <= $NProbe), " +
      "probe AS (SELECT embedding AS p, n2 AS pn2 FROM e WHERE vec_id = 0) " +
      "SELECT vec_id, cell, " +
      s"floor((${Vec.dotSql("embedding", "p")} / (sqrt(n2) * sqrt(pn2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM cells JOIN pcells ON cell = pcell, probe WHERE vec_id <> 0 " +
      "ORDER BY cos DESC, vec_id LIMIT 10"

  private val IvfSql = ivfSqlWith(
    s"cents AS (SELECT vec_id AS c_id, embedding AS c, n2 AS cn2 " +
      s"FROM e WHERE vec_id < $IvfCells)")

  /** Dump-time oracle for q_sim_ivf_trained: the training loop itself is
    * not oracle-expressible, but its output is deterministic (IvfTrainSpec)
    * — so Verify re-trains the codebook on the dump's own sf dir, renders
    * it as exact-decimal literals, and the assignment + probe + top-k
    * become hash-checkable end-to-end exactly like q_sim_ivf.
    */
  private[graft] def ivfTrainedOracle(s: SparkSession, d: String): String = {
    import s.implicits._
    val e = emb(s, d)
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    ivfSqlWith(
      centsLitCte(trainCodebook(trainSample(e, IvfCells), IvfCells, iters = 4)))
  }

  /** q_sim_ivf_batch — batch-probe IVF: the q_sim_batch generalization
    * applied to the inverted-file path (q_sim_ivf still serves the single
    * hardcoded probe). A probe TABLE (vec_id < BatchProbes) ranks its
    * top-nprobe cells from the same one-pass scored column as the corpus
    * assignment, the exploded (probe, cell) set is broadcast, and the
    * cell-assigned corpus joins its cell column ONCE for all probes — the
    * corpus never re-shuffles per probe (plan-asserted in PlanShapeSpec:
    * the only hash Exchange moves bucket-pruned candidates into the
    * per-probe top-k window). At scale the probe set is the QPS batch and
    * the inverted file stays a single cell-partitioned pass.
    */
  private def simIvfBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e =
      emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cents = e
      .filter($"vec_id" < IvfCells)
      .select($"vec_id".as("c_id"), $"embedding".as("c"), $"n2".as("cn2"))
    val assigned = e
      .crossJoin(broadcast(codebookRow(cents)))
      .select($"vec_id", $"embedding", $"n2", scoredCol.as("scored"))
    val cells = assigned.select(
      $"vec_id",
      $"embedding",
      $"n2",
      (-array_max($"scored").getField("nid")).as("cell"))
    val probeCells = assigned
      .filter($"vec_id" < BatchProbes)
      .select(
        $"vec_id".as("probe_id"),
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(slice(reverse(array_sort($"scored")), 1, NProbe)).as("sc"))
      .select($"probe_id", $"p", $"pn2", (-$"sc.nid").as("pcell"))
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    cells
      .join(
        broadcast(probeCells),
        $"cell" === $"pcell" && $"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id",
        $"cell",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"probe_id", $"vec_id", $"cell", $"cos")
      .orderBy($"probe_id", $"cos".desc, $"vec_id")
  }

  private val IvfBatchSql =
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"cents AS (SELECT vec_id AS c_id, embedding AS c, n2 AS cn2 FROM e WHERE vec_id < $IvfCells), " +
      "scored AS (SELECT e.vec_id, e.embedding, e.n2, cents.c_id, " +
      s"${Vec.dotSql("e.embedding", "cents.c")} / (sqrt(e.n2) * sqrt(cents.cn2)) AS ccos " +
      "FROM e, cents), " +
      "ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn " +
      "FROM scored), " +
      "cells AS (SELECT vec_id, embedding, n2, c_id AS cell FROM ranked WHERE rn = 1), " +
      "pcells AS (SELECT vec_id AS probe_id, embedding AS p, n2 AS pn2, c_id AS pcell " +
      s"FROM ranked WHERE vec_id < $BatchProbes AND rn <= $NProbe), " +
      "cand AS (SELECT probe_id, cells.vec_id AS vec_id, cell, " +
      s"floor((${Vec.dotSql("cells.embedding", "p")} / (sqrt(cells.n2) * sqrt(pn2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM cells JOIN pcells ON cell = pcell AND cells.vec_id <> probe_id) " +
      "SELECT probe_id, vec_id, cell, cos FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn2 " +
      "FROM cand) WHERE rn2 <= 10 ORDER BY probe_id, cos DESC, vec_id"

  // ---- build/serve split for retrieval ------------------------------
  //
  // The persisted index a serving tier reads, vs the in-session index the
  // q_sim_batch/q_sim_ivf_batch queries rebuild per run. Build: the
  // corpus hive-partitioned on its index key (sign-LSH bucket / IVF cell
  // — each bucket directory is one posting list) plus, for IVF, the
  // codebook as a k-row parquet, in its family's layout under
  // GenLog.datasetRoot (a served query seeds the family, an incremental
  // one adds one generation). Serve: a probe batch resolves its probe
  // keys FIRST (≤ 9·|probes| buckets / nprobe·|probes| cells — bounded
  // model state, collected like a codebook), so each root's scan carries
  // a LITERAL partition filter: only the probed directories are listed,
  // opened, or read — the partition-pruning contract LayoutSpec proves
  // for z-order, applied to the retrieval path (plan-asserted via
  // PartitionFilters + inputFiles in ServeIndexSpec / PlanShapeSpec).

  /** Bucket-partitioned index write for an arbitrary corpus slice — one
    * generation (seed or batch) of [[StreamOps.AnnFamily]].
    */
  private[graft] def writeAnnIndexFor(
      s: SparkSession,
      e: DataFrame,
      path: String): Unit = {
    import s.implicits._
    GenLog.writePartitioned(
      e.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"), bucketCol.as("bucket")),
      "bucket",
      path)
  }

  /** The serving tier's id-keyed EMBEDDING STORE: (vec_id, embedding, n2,
    * sign bucket) hive-partitioned on ishard = pmod(hash(vec_id), 64), so
    * a by-id fetch (e.g. resolving feedback-seed vectors from a handful
    * of retrieved doc ids) prunes to the ids' shard directories instead
    * of scanning the store — the lookup-side complement of the
    * bucket-partitioned ANN index, which can only prune by bucket.
    */
  private[graft] def writeEmbStoreFor(
      s: SparkSession,
      e: DataFrame,
      path: String): Unit = {
    import s.implicits._
    GenLog.writePartitioned(
      e.select(
        $"vec_id",
        $"embedding",
        Vec.norm2($"embedding").as("n2"),
        bucketCol.as("bucket"),
        pmod(hash($"vec_id"), lit(64)).as("ishard")),
      "ishard",
      path)
  }

  /** Serve a probe frame (probe_id, p, pn2, pbucket — already multi-probe
    * exploded) from the roots of a persisted ANN index, merged on read:
    * vector ids are disjoint across generations (monotone ingest), so the
    * union is exact and the bucket INSET filter pushes into every root's
    * scan independently; broadcast probes, per-probe top-k.
    */
  private[graft] def serveAnnBatch(
      s: SparkSession,
      indexPaths: Seq[String],
      probes: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    GenLog.read(s, indexPaths, within = Some("bucket" -> probes.select($"pbucket")))
      .join(broadcast(probes), $"bucket" === $"pbucket" && $"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"probe_id", $"vec_id", $"cos")
      .orderBy($"probe_id", $"cos".desc, $"vec_id")
  }

  /** The q_sim_batch probe frame: probe table rows exploded to their
    * Hamming-1 multi-probe bucket lists.
    */
  private[graft] def batchProbeFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    emb(s, d)
      .select(
        $"vec_id",
        $"embedding",
        Vec.norm2($"embedding").as("n2"),
        bucketCol.as("bucket"))
      .filter($"vec_id" < BatchProbes)
      .select(
        $"vec_id".as("probe_id"),
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(
          array(
            $"bucket" +:
              (0 until SignBits).map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*))
          .as("pbucket"))
  }

  /** q_sim_served — q_sim_batch's result served from the PERSISTED bucket
    * index: build writes the bucket-partitioned corpus, serve reads back
    * only the probed bucket directories (literal PartitionFilters — the
    * scan never lists the other ~96% of the index). Same output contract
    * and oracle as q_sim_batch: persisting and pruning must not change a
    * single hit.
    */
  private[graft] def simServedSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val (build, roots) = annIndex(s, d)
    (build, () => serveAnnBatch(s, roots(), batchProbeFrame(s, d)))
  }

  /** The canonical ANN index of a dataset — an [[StreamOps.AnnFamily]]
    * seeded once from the whole corpus — as its build and its roots:
    * q_sim_served and the RRF tier read this one physical index.
    */
  private[graft] def annIndex(
      s: SparkSession, d: String): (() => Unit, () => Seq[String]) = {
    val dir = s"${GenLog.datasetRoot(s, d)}/ann"
    (() => { StreamOps.AnnFamily.buildOnce(s, dir)(Seq(emb(s, d))); () },
      () => StreamOps.AnnFamily.roots(s, dir))
  }

  /** q_sim_incr — INCREMENTAL ANN index maintenance, the vector sibling
    * of `q_index_bm25_incr`: the newest 10% of vector ids (monotone
    * ingest) are today's batch; the `v0/full` seed stands in for
    * yesterday's persisted bucket index. The batch writes its OWN
    * bucket-partitioned generation (`v1/gen`) — O(batch) build work and
    * bytes, the base directories are never rewritten or re-read — and
    * serving unions the roots on read (ids are disjoint, so the union is
    * exact) with the same literal bucket INSET pruning pushed into BOTH
    * scans. The oracle is the monolithic q_sim_batch SQL: merge-on-read
    * must not change a single hit, re-proven by the hash gate every
    * round. Build persists both generations; serve is the merge-on-read
    * probe answer, the daily-ingest latency.
    */
  private[graft] def simIncrSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val dir = s"${GenLog.datasetRoot(s, d)}/ann_incr"
    val build = () => {
      StreamOps.AnnFamily.buildOnce(s, dir) {
        // the split threshold is ONE long of bounded driver state (the
        // probe bucket-id precedent): ids above ⌊9·max/10⌋ form the batch
        val thr = emb(s, d).agg(expr("(max(vec_id) * 9) div 10")).head().getLong(0)
        Seq(emb(s, d).filter($"vec_id" <= thr), emb(s, d).filter($"vec_id" > thr))
      }
      ()
    }
    (build,
      () => serveAnnBatch(s, StreamOps.AnnFamily.roots(s, dir), batchProbeFrame(s, d)))
  }

  /** Cell-assignment write against a given codebook: the shared kernel
    * of the monolithic IVF build and the per-generation incremental
    * build (a batch assigns against the EPOCH'S fixed quantizer, so
    * increments stay generation-local; retraining is an epoch roll, not
    * a streaming operation). Input may be raw (vec_id, embedding) — n2
    * is derived.
    */
  private[graft] def writeIvfCellsFrom(
      s: SparkSession,
      vecs: DataFrame,
      cents: DataFrame,
      path: String): Unit = {
    import s.implicits._
    val cells = vecs
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
      .crossJoin(broadcast(codebookRow(cents)))
      .select($"vec_id", $"embedding", $"n2", (-array_max(scoredCol).getField("nid")).as("cell"))
    GenLog.writePartitioned(cells, "cell", s"$path/cells")
  }

  /** IVF build with an arbitrary codebook (the stand-in cents for the
    * oracle-checked query; a [[trainCodebook]] result in ServeIndexSpec's
    * trained round trip): cell-assigned corpus partitioned by cell + the
    * codebook itself, both parquet.
    */
  private[graft] def writeIvfIndexFrom(
      s: SparkSession,
      e: DataFrame,
      cents: DataFrame,
      path: String): Unit = {
    writeIvfCellsFrom(s, e, cents, s"$path")
    cents.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/codebook")
  }

  /** Serve a probe frame from the roots of a persisted IVF index, merged
    * on read: the probes rank their top-nprobe cells against the
    * READ-BACK codebook of the newest full snapshot (`indexPaths.head` —
    * all generations assigned against the same epoch quantizer; broadcast,
    * map-side scoring — the serving tier holds only the k×dim codebook),
    * then each root's cell-partitioned scan is pruned by the same literal
    * pcell filter independently. Vector ids are disjoint across
    * generations (monotone ingest): the union is exact.
    */
  private[graft] def serveIvfBatch(
      s: SparkSession,
      indexPaths: Seq[String],
      probeVecs: DataFrame): DataFrame = {
    import s.implicits._
    val cbRead = GenLog.read(s, indexPaths.take(1), "codebook")
    val probeCells = probeVecs
      .crossJoin(broadcast(codebookRow(cbRead)))
      .select(
        $"vec_id".as("probe_id"),
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(slice(reverse(array_sort(scoredCol)), 1, NProbe)).as("sc"))
      .select($"probe_id", $"p", $"pn2", (-$"sc.nid").as("pcell"))
    val idx = GenLog.read(s, indexPaths, "cells", Some("cell" -> probeCells.select($"pcell")))
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    idx
      .join(broadcast(probeCells), $"cell" === $"pcell" && $"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id",
        $"cell".cast("long").as("cell"),
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"probe_id", $"vec_id", $"cell", $"cos")
      .orderBy($"probe_id", $"cos".desc, $"vec_id")
  }

  /** q_sim_ivf_served — q_sim_ivf_batch's result served from the PERSISTED
    * inverted file: build writes the cell-partitioned corpus + codebook,
    * serve reads back only the probed cell directories. Same output
    * contract and oracle as q_sim_ivf_batch.
    */
  private[graft] def simIvfServedSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val dir = s"${GenLog.datasetRoot(s, d)}/ivf"
    val F = StreamOps.ivfFamily(dir)
    val build = () => {
      // the seed body writes the stand-in codebook beside the cells
      F.buildOnceWith(s, dir) {
        val e = emb(s, d)
        val cents = e
          .filter($"vec_id" < IvfCells)
          .select($"vec_id".as("c_id"), $"embedding".as("c"), Vec.norm2($"embedding").as("cn2"))
        Seq(writeIvfIndexFrom(s, e.select($"vec_id", $"embedding"), cents, _))
      }
      ()
    }
    (build,
      () => serveIvfBatch(
        s,
        F.roots(s, dir),
        emb(s, d)
          .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
          .filter($"vec_id" < BatchProbes)))
  }

  /** q_multimodal — heterogeneous-column join: text metadata × vector
    * table, predicates on both sides (SURVEY §2 Tier C).
    */
  private def multimodal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "documents")
      .join(emb(s, d), $"doc_id" === $"vec_id")
      .filter($"n_chars" > 200 && element_at($"embedding", 1) > 0f)
      .select(
        $"doc_id",
        $"lang",
        $"label",
        $"n_chars",
        element_at($"embedding", 1).cast("double").as("e1"))
      .orderBy("doc_id")
  }

  /** q_embed_quantize — symmetric int8 quantization of the embedding
    * store, the compression step a 100 TB vector pipeline runs before
    * serving (4× smaller vectors; integer-SIMD dot products): per-vector
    * scale = max|v|/127 plus the reconstruction-error stats the pipeline
    * gates on (max absolute error, summed squared error, saturated-lane
    * count). One fused map-side pass per row
    * ([[graft.expr.QuantizeStats]]); the only exchange is the output
    * sort. Rounding is explicit floor(x + 0.5) and the error sum is a
    * left fold in index order, so every double matches the DuckDB oracle
    * bit-for-bit (graft.X rules).
    */
  private def embedQuantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    emb(s, d)
      .select($"vec_id", graft.expr.QuantizeStats($"embedding").as("qs"))
      .select(
        $"vec_id",
        element_at($"qs", 1).as("scale"),
        element_at($"qs", 2).as("max_abs_err"),
        element_at($"qs", 3).as("sum_sq_err"),
        element_at($"qs", 4).cast("bigint").as("n_saturated"))
      .orderBy("vec_id")
  }

  private val QuantizeSql = {
    // clamp(floor(x/scale + 0.5), ±127) — repeated inline because lambda
    // bodies cannot reuse lateral aliases
    def q(x: String) =
      s"LEAST(CAST(127 AS DOUBLE), GREATEST(CAST(-127 AS DOUBLE), " +
        s"floor(CAST($x AS DOUBLE) / scale + 0.5)))"
    "SELECT vec_id, scale, max_abs_err, sum_sq_err, n_saturated FROM (" +
      "SELECT vec_id, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax, " +
      "CASE WHEN coalesce(amax, 0) = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE amax / 127.0 END AS scale, " +
      "CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      s"list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE) - ${q("x")} * scale))) " +
      "END AS max_abs_err, " +
      "CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(embedding, x -> (CAST(x AS DOUBLE) - ${q("x")} * scale) * " +
      s"(CAST(x AS DOUBLE) - ${q("x")} * scale))), (a, b) -> a + b) END AS sum_sq_err, " +
      "CASE WHEN scale = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"CAST(len(list_filter(embedding, x -> abs(${q("x")}) = 127)) AS BIGINT) " +
      "END AS n_saturated " +
      "FROM embeddings) ORDER BY vec_id"
  }

  /** The quantized corpus frame: per-vector symmetric scale amax/127
    * (zero vectors quantize to zeros), int8 lanes as exact longs, float
    * vector + norm kept for the rescore tier, sign bucket for pruning.
    * Shared by the in-session query and the persisted index build.
    */
  private[graft] def quantizedFrame(e0: DataFrame): DataFrame = {
    import e0.sparkSession.implicits._
    val qv = when(
      $"amax" === 0d,
      transform($"embedding", _ => lit(0L)))
      .otherwise(transform(
        $"embedding",
        x =>
          least(
            lit(127d),
            greatest(
              lit(-127d),
              floor(x.cast("double") / ($"amax" / lit(127d)) + lit(0.5d))))
            .cast("long")))
    e0.withColumn(
        "amax",
        array_max(transform($"embedding", x => abs(x.cast("double")))))
      .select(
        $"vec_id",
        $"embedding",
        Vec.norm2($"embedding").as("n2"),
        bucketCol.as("bucket"),
        qv.as("qv"))
  }

  /** The standard probe (vec_id 0) of a quantized frame, exploded to its
    * Hamming-1 multi-probe bucket list with its int8 lanes along.
    */
  private[graft] def quantProbe(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" === 0)
      .select(
        $"embedding".as("p"),
        $"n2".as("pn2"),
        $"qv".as("pq"),
        explode(
          array(
            $"bucket" +:
              (0 until SignBits).map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*))
          .as("pbucket"))
  }

  /** The two-stage retrieve/rescore over a quantized corpus frame:
    * stage 1 ranks bucket candidates by the exact BIGINT dot product of
    * the int8 lanes, stage 2 rescores the surviving 20 with the float
    * cosine. Shared by the in-session and served variants — persistence
    * must not change a hit.
    */
  private def quantStage(e: DataFrame, probes: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val iscore =
      aggregate(zip_with($"qv", $"pq", (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    e.join(broadcast(probes), $"bucket" === $"pbucket")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding", $"n2", $"p", $"pn2", iscore.as("iscore"))
      .orderBy($"iscore".desc, $"vec_id")
      .limit(20)
      .select(
        $"vec_id",
        $"iscore",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** q_sim_quantized — two-stage retrieve/rescore over the int8-quantized
    * store, the serving pattern `q_embed_quantize` exists for: stage 1
    * ranks the probe's multi-probe bucket candidates by the INTEGER dot
    * product of their quantized lanes (exact BIGINT arithmetic — the
    * memory-bandwidth path: 4× smaller vectors, integer-SIMD products, and
    * bit-portable by construction, so the cut is identical cross-engine);
    * stage 2 rescores only the surviving 20 candidates with the exact
    * float cosine and emits the top 10. At 100 TB the full-precision
    * vectors live only in the rescore tier (20 rows/probe), while the
    * scan tier reads int8 — the standard IVF-PQ-style split, here with
    * symmetric per-vector scaling. Quantization error can reorder the
    * stage-1 cut vs a float scan, which is the accepted ANN trade; the
    * oracle replays the SAME quantized pipeline, so correctness is exact
    * over the declared semantics, not a recall estimate.
    */
  private def simQuantized(s: SparkSession, d: String): DataFrame = {
    val e = quantizedFrame(emb(s, d))
    quantStage(e, quantProbe(e))
  }

  /** Quantized-index write for an arbitrary corpus slice — one
    * generation (seed or batch) of [[StreamOps.QuantFamily]]: the
    * quantized frame bucket-partitioned to parquet — int8 lanes in the
    * scan tier, float vectors riding along for the 20-row rescore tier.
    */
  private[graft] def writeQuantIndexFor(
      s: SparkSession,
      vecs: DataFrame,
      path: String): Unit = {
    import s.implicits._
    GenLog.writePartitioned(quantizedFrame(vecs.select($"vec_id", $"embedding")), "bucket", path)
  }

  /** The standard quantized probe (vec_id 0) computed in-session — one
    * row of bounded model state, lineage severed so the probe-side
    * quantization never rescans the corpus.
    */
  private[graft] def quantProbeFrame(s: SparkSession, d: String): DataFrame =
    quantProbe(quantizedFrame(emb(s, d))).localCheckpoint()

  /** Serve the standard probe from the roots of a quantized index,
    * merged on read: each root's scan pruned by the same literal bucket
    * INSET filter; vector ids disjoint across generations (monotone
    * ingest), so the union — and therefore the integer stage-1 cut — is
    * exact.
    */
  private[graft] def serveQuantBatch(
      s: SparkSession,
      indexPaths: Seq[String],
      probes: DataFrame): DataFrame = {
    import s.implicits._
    quantStage(
      GenLog.read(s, indexPaths, within = Some("bucket" -> probes.select($"pbucket"))),
      probes)
  }

  /** q_sim_quantized_served — the two-stage retrieve/rescore answered
    * from the PERSISTED quantized index: build writes the int8-laned
    * bucket-partitioned corpus once (the 4×-smaller scan tier a serving
    * fleet memory-maps); serve recomputes only the probe row in-session
    * (one vector — bounded model state), prunes the scan to the probed
    * bucket directories via the literal INSET filter, and runs the
    * identical integer-cut + float-rescore. Same output contract and
    * oracle as q_sim_quantized: persistence and pruning must not change
    * a single hit.
    */
  private[graft] def simQuantizedServedSplit(
      s: SparkSession, d: String): (() => Unit, () => DataFrame) = {
    val dir = s"${GenLog.datasetRoot(s, d)}/annq"
    (() => { StreamOps.QuantFamily.buildOnce(s, dir)(Seq(emb(s, d))); () },
      () => serveQuantBatch(s, StreamOps.QuantFamily.roots(s, dir), quantProbeFrame(s, d)))
  }

  private val QuantizedSql = {
    val qLane =
      "CAST(LEAST(CAST(127 AS DOUBLE), GREATEST(CAST(-127 AS DOUBLE), " +
        "floor(CAST(x AS DOUBLE) / (amax / 127.0) + 0.5))) AS BIGINT)"
    s"WITH e0 AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2, " +
      s"$BucketSql AS bucket, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax " +
      "FROM embeddings), " +
      "e AS (SELECT vec_id, embedding, n2, bucket, " +
      "CASE WHEN amax = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT)) " +
      s"ELSE list_transform(embedding, x -> $qLane) END AS qv FROM e0), " +
      "probe AS (SELECT embedding AS p, n2 AS pn2, qv AS pq, " +
      s"unnest([$ProbeListSql]) AS pbucket FROM e WHERE vec_id = 0), " +
      "cand AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, e.n2 AS n2, " +
      "p, pn2, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(1, len(qv)), i -> qv[i] * pq[i])), " +
      "(a, b) -> a + b) AS iscore " +
      "FROM e JOIN probe ON bucket = pbucket WHERE e.vec_id <> 0 " +
      "ORDER BY iscore DESC, vec_id LIMIT 20) " +
      "SELECT vec_id, iscore, " +
      s"floor((${Vec.dotSql("embedding", "p")} / (sqrt(n2) * sqrt(pn2))) " +
      "* 1000000 + 0.5) / 1000000 AS cos " +
      "FROM cand ORDER BY cos DESC, vec_id LIMIT 10"
  }

  /** q_dedup_semantic — SemDeDup-style cluster-then-prune semantic dedup
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): the
    * k-means-cell sibling of the sign-LSH pair family
    * ([[DedupOps]] q_dedup_embed). Every vector is assigned to its
    * nearest coarse centroid with the same broadcast map-side argmin as
    * q_sim_ivf; WITHIN each cell, any pair above the semantic threshold
    * marks its higher-id member as a duplicate, so a vector survives iff
    * it has NO lower-id τ-neighbor in its cell — the paper's keep-one
    * rule made deterministic and order-free (the anchor rule, the same
    * one the incremental dedup family uses). Survivors are emitted with
    * their cell.
    * Candidates are cell-local BY CONSTRUCTION — the paper's own
    * complexity argument: k GROWS WITH THE CORPUS (LAION runs use
    * k ≈ 100 000), so a cell is a bounded shuffle-partitionable block
    * and the all-pairs corpus join never exists. Here k = max(16, ⌈√N⌉)
    * — assignment work N·k and within-cell pair work ~N²/k balance at
    * N^1.5, subquadratic end-to-end — computed identically on both
    * engines (one count, IEEE sqrt/ceil), with the deterministic
    * first-k-vectors stand-in codebook of q_sim_ivf so the oracle
    * replicates assignment bit-for-bit ([[trainCodebook]] is the
    * production quantizer). The count is one driver-side long — bounded
    * state, same class as the probe-bucket collects. Documented
    * approximation, mirrored exactly by the oracle: a duplicate pair
    * split across two cells is not pruned — the same miss the paper
    * accepts. τ = 0.4 at this synthetic-embedding scale (production
    * text embeddings sit near τ ≈ 0.95); same threshold family as
    * q_dedup_embed's verify.
    */
  private val SemTau = "0.4"

  /** k = max(16, ⌈√N⌉) semantic cells — both engines compute the same
    * integer from one corpus count.
    */
  private[graft] def semCellCount(e: DataFrame): Long =
    math.max(
      IvfCells.toLong,
      math.ceil(math.sqrt(e.count().toDouble)).toLong)

  /** The epoch codebook frame: the first k vectors as (c_id, c, cn2). */
  private[graft] def semCentsOf(e: DataFrame, k: Long): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" < k)
      .select($"vec_id".as("c_id"), $"embedding".as("c"), $"n2".as("cn2"))
  }

  /** Argmin cell assignment against an explicit codebook: (vec_id,
    * embedding, n2, cell), all map-side after the one-row broadcast.
    * Shared by the monolithic, incremental, and continuous semantic
    * dedup paths.
    */
  private[graft] def semanticCellsWith(e: DataFrame, cents: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.crossJoin(broadcast(codebookRow(cents)))
      .select(
        $"vec_id",
        $"embedding",
        $"n2",
        (-array_max(scoredCol).getField("nid")).as("cell"))
  }

  private def semanticCells(e: DataFrame, k: Long): DataFrame =
    semanticCellsWith(e, semCentsOf(e, k))

  /** τ-witnessed members of `b`: every row of `b` having a same-cell
    * member of `a` with a STRICTLY LOWER vec_id and cosine above τ — the
    * drop half of the anchor rule.
    */
  private[graft] def semWitnessed(a: DataFrame, b: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    a.as("a")
      .join(
        b.as("b"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id" &&
          Vec.cosine(Vec.dot($"a.embedding", $"b.embedding"), $"a.n2", $"b.n2") >
          lit(SemTau).cast("double"))
      .select($"b.vec_id".as("vec_id"))
      .distinct()
  }

  private def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e =
      emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cells = semanticCells(e, semCellCount(e))
    cells
      .join(semWitnessed(cells, cells), Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cell")
      .orderBy($"vec_id")
  }

  /** q_dedup_semantic_incr — incremental SemDeDup apply against the
    * PERSISTED cell store: the semantic sibling of q_dedup_embed_incr.
    * Newest 50% of vec_ids = the batch (the backfill-wave split the
    * embed family documents); the base half's cell assignments persist
    * cell-partitioned through the catalog (build-once), standing in for
    * yesterday's state. The anchor rule is MONOTONE in vec_id — a
    * vector's survivor status depends only on lower-id cell members, and
    * with monotone ingest ids every base id is below every batch id — so
    * the O(batch) apply (batch assigned against the SAME epoch codebook;
    * witnesses from the probed base cells ∪ the batch itself) equals the
    * full rebuild restricted to batch ids EXACTLY, which is what the
    * oracle computes. Scan posture: the base store is read through a
    * literal INSET filter on the batch's probed cells (partition
    * pruning; probe list ≤ k = ⌈√N⌉ cells — bounded driver state), and
    * the epoch contract pins k and the codebook to the FULL corpus count
    * so a batch never re-derives them.
    */
  private[graft] def semanticIncrSplit(
      s: SparkSession,
      d: String): (() => Unit, () => DataFrame) = {
    import s.implicits._
    val e =
      emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val k = semCellCount(e)
    val thr = e.agg(max($"vec_id")).head().getLong(0) / 2
    val cells = semanticCells(e, k)
    val path = s"${GenLog.datasetRoot(s, d)}/semcells"
    val build = () => { SemCellsFamily.buildOnce(s, path)(Seq(cells.filter($"vec_id" <= thr))); () }
    val serve = () => {
      val batch = cells.filter($"vec_id" > thr).localCheckpoint(true)
      val base = GenLog.read(
        s, SemCellsFamily.roots(s, path), within = Some("cell" -> batch.select($"cell")))
        .select($"vec_id", $"embedding", $"n2", $"cell".cast("long").as("cell"))
      batch
        .join(
          semWitnessed(base.unionByName(batch), batch),
          Seq("vec_id"),
          "left_anti")
        .select($"vec_id", $"cell")
        .orderBy($"vec_id")
    }
    (build, serve)
  }

  /** q_dedup_semantic_incr's cell store: (vec_id, embedding, n2, cell)
    * rows partitioned by cell, written and folded as they are, without a
    * repartition on the key.
    */
  private[graft] val SemCellsFamily = GenLog.GenFamily(
    label = "semantic cell store",
    write = (_, cells, path) =>
      cells.write.mode(org.apache.spark.sql.SaveMode.Overwrite).partitionBy("cell").parquet(path),
    fold = (s, roots, path) =>
      GenLog.read(s, roots)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(path))

  /** q_cluster_stats — the cluster-size/prune report of the semantic
    * dedup pass (the distribution SemDeDup §4 reports): per cell, its
    * member count and how many members survive the anchor prune. Every
    * nonempty cell keeps ≥ 1 (its lowest id has no lower-id witness).
    * All-integer outputs — no float leaves the plan, so the hash gate
    * is exact by construction. Same N^1.5 shape as q_dedup_semantic.
    */
  private def clusterStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e =
      emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cells = semanticCells(e, semCellCount(e))
    cells
      .join(
        semWitnessed(cells, cells).withColumn("w", lit(1)),
        Seq("vec_id"),
        "left")
      .groupBy($"cell")
      .agg(
        count(lit(1)).as("n_vecs"),
        count(when($"w".isNull, 1)).as("n_kept"))
      .orderBy($"cell")
  }

  /** q_cluster_terms — cluster LABELING for the semantic pass: the top-3
    * most frequent terms of each semantic cell, joining documents to
    * their cell through doc_id = vec_id (the q_multimodal linkage). The
    * exploration step after SemDeDup clusters a corpus — "what is this
    * cluster about" — with the same cross-engine token rule as the
    * inverted index (lowercase space split, `[a-z0-9]{3,}`), integer
    * counts, and a (count desc, term asc) rank so ties are
    * deterministic. One shuffle to (cell, term), one window per cell.
    */
  private def clusterTerms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e =
      emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cells =
      semanticCells(e, semCellCount(e)).select($"vec_id", $"cell")
    val toks = T(s, d, "documents")
      .join(cells, $"doc_id" === $"vec_id")
      .select($"cell", explode(split(lower($"text"), " ")).as("term"))
      .filter($"term".rlike("^[a-z0-9]{3,}$"))
    val w = Window.partitionBy($"cell").orderBy($"n".desc, $"term")
    toks
      .groupBy($"cell", $"term")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"cell", $"rn", $"term", $"n")
      .orderBy($"cell", $"rn")
  }

  /** q_dedup_semantic_trained — the PRODUCTION semantic dedup: the same
    * anchor prune under a Lloyd-trained coarse quantizer
    * ([[trainCodebook]], k = max(16, ⌈√N⌉), 2 iterations) instead of
    * the oracle's deterministic first-k stand-in — the q_sim_ivf_trained
    * pattern applied to the dedup family. No SQL oracle (Lloyd k-means
    * is not oracle-expressible for the driver's hash compare); gated by
    * SemanticDedupSpec's trained contract instead: bit-equal to a
    * driver-side scalar reference run on the engine's own trained
    * centroids (the dot fold is bit-identical), and stable across
    * shuffle-partition settings.
    */
  private def dedupSemanticTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e =
      emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    semSurvivorsWith(e, semTrainedCents(e)).orderBy($"vec_id")
  }

  /** Monolithic anchor prune under an explicit epoch codebook:
    * survivors (vec_id, cell) of `e`. The continuous family's specs
    * compare streamed survivor logs against this rebuilt answer.
    */
  private[graft] def semSurvivorsWith(e: DataFrame, cents: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val cells = semanticCellsWith(e, cents)
    cells
      .join(semWitnessed(cells, cells), Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cell")
  }

  /** Seed artifact of the continuous semantic-dedup family: the epoch
    * codebook `cents(e)` of the base's vectors `e` (k = max(16,
    * ⌈√N_base⌉) pinned HERE — the epoch contract), the base's
    * cell-partitioned members (`cells`), and the base survivor log
    * (`survivors`) under one snapshot path. The codebook is the first-k
    * oracle stand-in ([[semStandinCents]]) or, for the trained epoch
    * roll, a Lloyd-trained one ([[semTrainedCents]]).
    */
  private[graft] def writeSemSeed(
      s: SparkSession,
      base: DataFrame,
      cents: DataFrame => DataFrame)(path: String): Unit = {
    val e = base.select(col("vec_id"), col("embedding"), Vec.norm2(col("embedding")).as("n2"))
    writeSemSeedWith(s, e, cents(e), path)
  }

  private[graft] def semStandinCents(e: DataFrame): DataFrame =
    semCentsOf(e, semCellCount(e)).localCheckpoint(true)

  /** The production quantizer of the semantic family: a Lloyd-trained
    * ([[trainCodebook]], two iterations) codebook over `e`'s vectors.
    */
  private[graft] def semTrainedCents(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    trainCodebook(e, semCellCount(e).toInt, iters = 2)
      .toDF("c_id", "c")
      .select($"c_id", $"c", Vec.norm2($"c").as("cn2"))
  }

  /** The shared seed writer under an EXPLICIT epoch codebook: codebook +
    * cell-partitioned members + survivor log as one snapshot.
    */
  private[graft] def writeSemSeedWith(
      s: SparkSession,
      e: DataFrame,
      cents: DataFrame,
      path: String): Unit = {
    cents.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/cents")
    GenLog.writePartitioned(semanticCellsWith(e, cents), "cell", s"$path/cells")
    semSurvivorsWith(e, cents).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/survivors")
  }

  /** One generation of the continuous semantic-dedup family: assign the
    * batch against the EPOCH codebook, compute its survivor log against
    * the prior members (probed cells only — INSET partition pruning on
    * every prior root) ∪ the batch itself, and write both artifacts.
    * The anchor rule is monotone in vec_id and ingest ids are monotone
    * across batches, so the batch's survivor set is FINAL at commit
    * time — the continuous survivor set is the plain union of survivor
    * artifacts.
    */
  private[graft] def writeSemGeneration(
      s: SparkSession,
      batch: DataFrame,
      cents: DataFrame,
      memberRoots: Seq[String],
      path: String): Unit = {
    import s.implicits._
    val b = semanticCellsWith(
      batch
        .select($"vec_id", $"embedding")
        .withColumn("n2", Vec.norm2($"embedding")),
      cents).localCheckpoint(eager = true)
    val prior = GenLog.read(s, memberRoots, "cells", Some("cell" -> b.select($"cell")))
      .select($"vec_id", $"embedding", $"n2", $"cell".cast("long").as("cell"))
    val survivors = b
      .join(semWitnessed(prior.unionByName(b), b), Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cell")
    GenLog.writePartitioned(b, "cell", s"$path/cells")
    survivors.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/survivors")
  }

  /** The shared CTE chain of the semantic-dedup oracles, parameterized
    * by the cents CTE (first-k stand-in, or a trained-codebook literal
    * for q_dedup_semantic_trained): cells via the same argmin/tie-break
    * as the engine, dropped via the anchor rule.
    */
  private def semCtesWith(centsCte: String): String =
    s"e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"$centsCte, " +
      "scored AS (SELECT e.vec_id, e.embedding, e.n2, cents.c_id, " +
      s"${Vec.dotSql("e.embedding", "cents.c")} / (sqrt(e.n2) * sqrt(cents.cn2)) AS ccos " +
      "FROM e, cents), " +
      "ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn " +
      "FROM scored), " +
      "cells AS (SELECT vec_id, embedding, n2, c_id AS cell FROM ranked WHERE rn = 1), " +
      "dropped AS (SELECT DISTINCT b.vec_id AS vec_id FROM cells a JOIN cells b " +
      "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
      s"WHERE ${Vec.dotSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) > $SemTau)"

  private val SemCtes = semCtesWith(
    "cents AS (SELECT vec_id AS c_id, embedding AS c, n2 AS cn2 FROM e " +
      s"WHERE vec_id < (SELECT GREATEST($IvfCells, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM e))")

  private val SemanticSql =
    s"WITH $SemCtes " +
      "SELECT vec_id, cell FROM cells " +
      "WHERE vec_id NOT IN (SELECT vec_id FROM dropped) ORDER BY vec_id"

  /** Dump-time oracle for q_dedup_semantic_trained — [[ivfTrainedOracle]]'s
    * idiom on the dedup family: re-train the √N-cell codebook on the
    * dump's sf dir (deterministic, SemanticDedupSpec), render it as
    * exact-decimal literals, and the assignment + anchor prune are
    * hash-checked end-to-end like q_dedup_semantic.
    */
  private[graft] def semTrainedOracle(s: SparkSession, d: String): String = {
    import s.implicits._
    val e = emb(s, d)
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cb = trainCodebook(e, semCellCount(e).toInt, iters = 2)
    s"WITH ${semCtesWith(centsLitCte(cb))} " +
      "SELECT vec_id, cell FROM cells " +
      "WHERE vec_id NOT IN (SELECT vec_id FROM dropped) ORDER BY vec_id"
  }

  /** The incremental oracle IS the delta ≡ rebuild identity: the full
    * survivor set restricted to batch ids (monotone anchor rule).
    */
  private val SemanticIncrSql =
    s"WITH $SemCtes " +
      "SELECT vec_id, cell FROM cells " +
      "WHERE vec_id NOT IN (SELECT vec_id FROM dropped) " +
      "AND vec_id > (SELECT max(vec_id) // 2 FROM embeddings) ORDER BY vec_id"

  private val ClusterStatsSql =
    s"WITH $SemCtes " +
      "SELECT cell, count(*) AS n_vecs, " +
      "count(CASE WHEN vec_id NOT IN (SELECT vec_id FROM dropped) THEN 1 END) AS n_kept " +
      "FROM cells GROUP BY cell ORDER BY cell"

  private val ClusterTermsSql =
    s"WITH $SemCtes, " +
      "toks AS (SELECT cells.cell AS cell, unnest(string_split(lower(d.text), ' ')) AS term " +
      "FROM documents d JOIN cells ON d.doc_id = cells.vec_id), " +
      "cnt AS (SELECT cell, term, count(*) AS n FROM toks " +
      "WHERE regexp_full_match(term, '[a-z0-9]{3,}') GROUP BY cell, term), " +
      "trank AS (SELECT cell, term, n, " +
      "row_number() OVER (PARTITION BY cell ORDER BY n DESC, term) AS rn FROM cnt) " +
      "SELECT cell, rn, term, n FROM trank WHERE rn <= 3 ORDER BY cell, rn"

  // ───────────────────────── product quantization ─────────────────────────
  //
  // PQ (Jégou, Douze, Schmid — "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011; the compressed tier of FAISS's IVFADC): split the
  // 64-dim vector into PqM=4 subvectors of PqSub=16 dims, quantize each
  // against its OWN PqK-entry sub-codebook (argmin L2, the paper's metric),
  // and score a probe against the CODES ONLY via asymmetric distance
  // computation — per (subspace, code) the probe's partial dot product is a
  // PqM×PqK lookup table computed ONCE, so the scan tier reads PqM small
  // ints per vector instead of 64 floats (here 4×16 codes = 4 B of payload
  // vs 256 B raw; production PqK=256 keeps that 64× ratio at billion-vector
  // scale, where the codes table is the only thing that still fits in
  // memory). The ADC estimate is cosine(q, x̂) for the reconstruction
  // x̂ = concat of chosen sub-centroids: dot(q, x̂) = Σ_m qd[m][code_m]
  // (the lookup) and ‖x̂‖² = Σ_m cn2[m][code_m] EXACTLY (subvectors are
  // disjoint coordinates), so the only approximation is quantization
  // itself. Sums run in fixed subspace order (((m0+m1)+m2)+m3) so every
  // IEEE add matches the oracle bit-for-bit.
  //
  // Like q_sim_ivf, the oracle-hashed variant uses a deterministic stand-in
  // codebook (subvectors of the first PqK vectors); q_sim_pq_trained runs
  // per-subspace Lloyd (L2 flavor) end-to-end with the dump-time
  // decimal-literal oracle, and q_sim_ivfpq composes the coarse IVF prune
  // with the ADC scan — the production IVFADC shape.

  private[graft] val PqM = 4
  private[graft] val PqSub = 16
  private[graft] val PqK = 16

  /** Per-subspace stand-in codebooks from a (vec_id, embedding) frame: one
    * row per (m, c_id) with the sliced sub-centroid and its exact norm².
    */
  private[graft] def pqStandinCents(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" < PqK)
      .select(
        $"vec_id".as("c_id"),
        explode(array((0 until PqM).map(m =>
          struct(
            lit(m).as("m"),
            slice($"embedding", m * PqSub + 1, PqSub).as("c"))): _*)).as("mc"))
      .select(
        $"mc.m".as("m"),
        $"c_id",
        $"mc.c".as("c"),
        Vec.norm2($"mc.c").as("cn2"))
  }

  /** One-row broadcastable bundle of all PqM sub-codebooks:
    * `mcb ARRAY<STRUCT<m, cb ARRAY<STRUCT<c_id, c, cn2>>>>`, both levels
    * sorted (m asc, c_id asc) so `element_at(mcb, m+1).cb[k+1]` is a
    * positional lookup — the "ship the quantizer" step, PQ edition.
    */
  private[graft] def pqCodebookRow(cents: DataFrame): DataFrame = {
    import cents.sparkSession.implicits._
    cents
      .groupBy($"m")
      .agg(sort_array(collect_list(struct($"c_id", $"c", $"cn2"))).as("cb"))
      .groupBy()
      .agg(sort_array(collect_list(struct($"m", $"cb"))).as("mcb"))
  }

  /** Subspace-m encode against the broadcast bundle: argmin-L2 as an
    * `array_min` over struct(d2, c_id, cn2) — d2 = cn2 − 2·dot(x_m, c)
    * (the ‖x_m‖² term is constant within a row's argmin, so dropping it
    * changes no comparison), ties broken c_id asc by the struct order, and
    * the winning centroid's cn2 rides along for the reconstruction norm.
    * Higher-order functions, not k inline projections: 64 unrolled dot
    * products per row re-breaks janino the way the pre-round-5 IVF
    * assignment did (see [[scoredCol]]), while the HOF form stays one
    * map-side pass with zero Exchanges.
    */
  private[graft] def pqEncCol(m: Int): org.apache.spark.sql.Column = {
    val xm = slice(col("embedding"), m * PqSub + 1, PqSub)
    val cb = element_at(col("mcb"), m + 1).getField("cb")
    array_min(transform(cb, c =>
      struct(
        (c.getField("cn2") - lit(2d) * Vec.dot(xm, c.getField("c"))).as("d2"),
        c.getField("c_id").as("c_id"),
        c.getField("cn2").as("cn2"))))
  }

  /** The probe's ADC bundle: per-subspace partial-dot lookup tables
    * `qd[m][c_id+1] = dot(q_m, c)` plus the probe norm — one broadcast row
    * of PqM×PqK doubles, the entire per-query model state of an ADC scan.
    */
  private[graft] def pqProbeTab(e: DataFrame, cbRow: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" === 0)
      .select($"embedding".as("p"), Vec.norm2($"embedding").as("pn2"))
      .crossJoin(broadcast(cbRow))
      .select(
        $"pn2",
        transform($"mcb", mc =>
          transform(mc.getField("cb"), c =>
            Vec.dot(
              slice($"p", mc.getField("m") * lit(PqSub) + lit(1), lit(PqSub)),
              c.getField("c")))).as("qd"))
  }

  /** ADC top-k over an encoded frame (vec_id [, extra cols], e0..e3):
    * Σ_m qd[m][code_m] / (sqrt(Σ_m cn2_m) · sqrt(‖q‖²)), fixed-order adds,
    * TakeOrderedAndProject — the scan never touches a float vector.
    */
  private[graft] def pqAdcTopK(
      encoded: DataFrame,
      qtab: DataFrame,
      extra: Seq[String]): DataFrame = {
    import encoded.sparkSession.implicits._
    val dotSum = (0 until PqM)
      .map(m =>
        element_at(
          element_at($"qd", m + 1),
          (col(s"e$m").getField("c_id") + lit(1L)).cast("int")))
      .reduce(_ + _)
    val rn2 = (0 until PqM).map(m => col(s"e$m").getField("cn2")).reduce(_ + _)
    encoded
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qtab))
      .select(
        ($"vec_id" +: extra.map(col)) :+
          X.r6(dotSum / (sqrt(rn2) * sqrt($"pn2"))).as("cos"): _*)
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** Encode a (vec_id [, extra], embedding) frame: map-side, one broadcast
    * of the codebook bundle, PqM argmin structs per row.
    */
  private[graft] def pqEncode(vecs: DataFrame, cbRow: DataFrame, extra: Seq[String]): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs
      .crossJoin(broadcast(cbRow))
      .select(
        ($"vec_id" +: extra.map(col)) ++
          (0 until PqM).map(m => pqEncCol(m).as(s"e$m")): _*)
  }

  /** q_sim_pq — the ADC scan end-to-end with the stand-in codebooks:
    * encode the corpus (map-side), score the standard probe against codes
    * only, top-10. The whole plan is scan → broadcast → TakeOrdered: no
    * Exchange touches the corpus (plan-pinned in PqSpec).
    */
  private[graft] def simPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select($"vec_id", $"embedding")
    val cbRow = pqCodebookRow(pqStandinCents(e))
    pqAdcTopK(pqEncode(e, cbRow, Nil), pqProbeTab(e, cbRow), Nil)
  }

  /** Per-subspace Lloyd with the PQ paper's L2 assignment (the cosine
    * [[trainCodebook]] is the coarse quantizer's flavor; sub-codebooks
    * quantize RESIDUAL-scale geometry where direction alone is not
    * enough) — the L2 single-group instantiation of [[trainLloyd]]:
    * argmin (cn2 − 2·dot) with c_id tie-break is the exact encode rule,
    * so training and encoding can never disagree on a boundary.
    */
  private[graft] def trainSubCodebook(
      xs: DataFrame, // (vec_id, x ARRAY<FLOAT>)
      k: Int,
      iters: Int): Seq[(Long, Seq[Float])] = {
    import xs.sparkSession.implicits._
    trainLloyd(
      xs.select(lit(0).as("grp"), $"vec_id", $"x"),
      k,
      iters,
      groups = 1,
      cosine = false)(0)
  }

  /** All PqM trained sub-codebooks as a cents frame (m, c_id, c, cn2) —
    * ONE fused [[trainLloyd]] run over the subspace-exploded corpus
    * (grp = m), so every Lloyd iteration trains all PqM sub-codebooks in
    * a single distributed pass: 3 corpus scans total where the sequential
    * per-subspace loop ran PqM·3 = 12. The training INPUT is capped by
    * [[trainSample]] (encode still covers the full corpus); both halves
    * are bit-identical in the below-cap regime and deterministic above
    * it, so [[pqTrainedOracle]]'s dump-time decimal literals track
    * whatever this trains.
    */
  private[graft] def pqTrainedCents(s: SparkSession, d: String): Seq[(Int, Long, Seq[Float])] = {
    import s.implicits._
    val e = trainSample(emb(s, d).select($"vec_id", $"embedding"), PqK)
    val sliced = e.select(
      explode(array((0 until PqM).map(m =>
        struct(
          lit(m).as("grp"),
          slice($"embedding", m * PqSub + 1, PqSub).as("x"))): _*)).as("mx"),
      $"vec_id")
      .select($"mx.grp".as("grp"), $"vec_id", $"mx.x".as("x"))
    val cb = trainLloyd(sliced, PqK, iters = 3, groups = PqM, cosine = false)
    for {
      m <- 0 until PqM
      (id, v) <- cb(m)
    } yield (m, id, v)
  }

  private[graft] def pqCentsFrame(s: SparkSession, cents: Seq[(Int, Long, Seq[Float])]): DataFrame = {
    import s.implicits._
    cents
      .toDF("m", "c_id", "c")
      .select($"m", $"c_id", $"c", Vec.norm2($"c").as("cn2"))
  }

  /** q_sim_pq_trained — the production PQ path: per-subspace Lloyd, then
    * the identical encode + ADC scan. Oracle at dump time: the trained
    * sub-codebooks rendered as exact-decimal literals
    * ([[pqTrainedOracle]]), so assignment, reconstruction norm, and top-k
    * are hash-checked end-to-end like q_sim_ivf_trained.
    */
  private[graft] def simPqTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select($"vec_id", $"embedding")
    val cbRow = pqCodebookRow(pqCentsFrame(s, pqTrainedCents(s, d)))
    pqAdcTopK(pqEncode(e, cbRow, Nil), pqProbeTab(e, cbRow), Nil)
  }

  /** q_sim_ivfpq — FAISS's IVFADC composition: the coarse quantizer
    * prunes the corpus to nprobe cells (the IVF story: read 2 of 16 cell
    * partitions), the ADC scan ranks the survivors from codes alone (the
    * PQ story: the pruned scan reads small ints, not floats). Both
    * codebooks are the deterministic stand-ins so the full chain keeps a
    * SQL oracle.
    */
  private[graft] def simIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val coarse = e
      .filter($"vec_id" < IvfCells)
      .select($"vec_id".as("c_id"), $"embedding".as("c"), $"n2".as("cn2"))
    val assigned = e
      .crossJoin(broadcast(codebookRow(coarse)))
      .select($"vec_id", $"embedding", scoredCol.as("scored"))
    val cells = assigned.select(
      $"vec_id",
      $"embedding",
      (-array_max($"scored").getField("nid")).as("cell"))
    val probeCells = assigned
      .filter($"vec_id" === 0)
      .select(explode(slice(reverse(array_sort($"scored")), 1, NProbe)).as("sc"))
      .select((-$"sc.nid").as("pcell"))
    val candidates = cells
      .join(broadcast(probeCells), $"cell" === $"pcell")
      .select($"vec_id", $"cell", $"embedding")
    val cbRow = pqCodebookRow(pqStandinCents(e.select($"vec_id", $"embedding")))
    pqAdcTopK(
      pqEncode(candidates, cbRow, Seq("cell")),
      pqProbeTab(e.select($"vec_id", $"embedding"), cbRow),
      Seq("cell"))
  }

  /** Codes write for an arbitrary corpus slice against a FIXED codebook —
    * the generation write of [[pqFamily]] (a batch encodes against the
    * epoch's quantizer, exactly the IVF rule in [[writeIvfCellsFrom]]:
    * increments stay generation-local, retraining is an epoch roll).
    */
  private[graft] def writePqCodesFor(
      vecs: DataFrame,
      cbRow: DataFrame,
      path: String): Unit = {
    import vecs.sparkSession.implicits._
    pqEncode(vecs, cbRow, Nil)
      .select(
        $"vec_id" +:
          (0 until PqM).map(m =>
            col(s"e$m").getField("c_id").cast("smallint").as(s"k$m")): _*)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
  }

  /** The sub-codebooks persisted in the full snapshot `full`, with each
    * centroid's norm recomputed through the same fold as the in-session
    * codebook (floats round-trip parquet exactly, so the row is
    * bit-identical).
    */
  private def pqCodebookAt(s: SparkSession, full: String): DataFrame =
    pqCodebookRow(
      T.parquet(s, s"$full/codebook")
        .select(col("m"), col("c_id"), col("c"), Vec.norm2(col("c")).as("cn2")))

  /** PQ codes family, shaped like [[StreamOps.ivfFamily]]: a full snapshot
    * holds the epoch's sub-codebooks (`codebook`, PqM×PqK rows) beside
    * its `codes`, and every generation encodes its vectors against the
    * newest full's codebook into (vec_id, k0..k3 SMALLINT) `codes` rows.
    * The fold copies the codebook forward.
    */
  private[graft] def pqFamily(root: String): GenLog.GenFamily = GenLog.GenFamily(
    label = "PQ codes",
    write = (s, vecs, path) =>
      writePqCodesFor(vecs, pqCodebookAt(s, pqFamily(root).roots(s, root).head), s"$path/codes"),
    fold = (s, roots, path) => {
      GenLog.read(s, roots, "codes")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/codes")
      GenLog.read(s, roots.take(1), "codebook")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/codebook")
    })

  /** The persisted PQ index under one claim on `root`: the seed writes
    * the stand-in sub-codebooks, then the corpus codes against them — the
    * 64×-compressed scan tier. With `incr`, the seed holds the vectors up
    * to ⌊9·max/10⌋ and the newest tenth commits as generation `v1/gen`.
    */
  private[graft] def writePqIndex(
      s: SparkSession, d: String, root: String, incr: Boolean = false): Unit = {
    import s.implicits._
    val F = pqFamily(root)
    F.buildOnceWith(s, root) {
      val e = emb(s, d).select($"vec_id", $"embedding")
      def seed(base: DataFrame)(path: String): Unit = {
        pqStandinCents(e)
          .select($"m", $"c_id", $"c")
          .coalesce(1)
          .write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/codebook")
        writePqCodesFor(base, pqCodebookAt(s, path), s"$path/codes")
      }
      if (!incr) Seq(seed(e))
      else {
        val thr = e.agg(expr("(max(vec_id) * 9) div 10")).head().getLong(0)
        Seq(seed(e.filter($"vec_id" <= thr)), F.write(s, e.filter($"vec_id" > thr), _))
      }
    }
    ()
  }

  /** ADC serve from the roots of a persisted [[pqFamily]] index: the
    * newest full's codebook and every root's codes, merged on read.
    * Vector ids are disjoint across generations (monotone ingest) so the
    * union is exact, and every generation's scan reads the 4-smallint
    * payload only. The cn2 lookup tables ride next to qd in the
    * same (m, c_id)-positional shape; norms are recomputed through the
    * same fold from the persisted float centroids (exact parquet
    * round-trip), so serving is bit-identical to the in-session path.
    */
  private[graft] def servePqCodes(
      s: SparkSession,
      d: String,
      roots: Seq[String]): DataFrame = {
    import s.implicits._
    val cbRow = pqCodebookAt(s, roots.head)
    val qtab = pqProbeTab(emb(s, d).select($"vec_id", $"embedding"), cbRow)
      .crossJoin(broadcast(cbRow.select(
        transform($"mcb", mc =>
          transform(mc.getField("cb"), c => c.getField("cn2"))).as("ct"))))
    val codes = GenLog.read(s, roots, "codes")
    val dotSum = (0 until PqM)
      .map(m =>
        element_at(
          element_at($"qd", m + 1),
          (col(s"k$m").cast("long") + lit(1L)).cast("int")))
      .reduce(_ + _)
    val rn2 = (0 until PqM)
      .map(m =>
        element_at(
          element_at($"ct", m + 1),
          (col(s"k$m").cast("long") + lit(1L)).cast("int")))
      .reduce(_ + _)
    codes
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qtab))
      .select($"vec_id", X.r6(dotSum / (sqrt(rn2) * sqrt($"pn2"))).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  // the persisted PQ index at `datasetRoot/<name>`, served over its roots
  private def servedPq(s: SparkSession, d: String, name: String, incr: Boolean): DataFrame = {
    val root = s"${GenLog.datasetRoot(s, d)}/$name"
    writePqIndex(s, d, root, incr)
    servePqCodes(s, d, pqFamily(root).roots(s, root))
  }

  /** q_sim_pq_served — the codes table as the PERSISTED scan tier: build
    * writes the sub-codebooks and the corpus codes once ([[writePqIndex]]);
    * serve re-derives the lookup tables from the persisted codebooks and
    * ADC-scans the codes; the raw embeddings table is touched only for
    * the probe row. Same output contract and oracle as q_sim_pq:
    * compressing the scan tier must not change a single hit.
    */
  private[graft] def simPqServed(s: SparkSession, d: String): DataFrame =
    servedPq(s, d, "pq", incr = false)

  /** q_sim_pq_incr — incremental CODES maintenance, the PQ sibling of
    * q_sim_incr: the newest 10% of vector ids are today's batch, encoded
    * against the epoch's FIXED sub-codebooks into their own generation —
    * O(batch) build work and bytes, the base codes never rewritten — and
    * serving unions the generations on read (disjoint ids ⇒ exact). The
    * oracle is the monolithic PqSql: merge-on-read must not change a hit.
    */
  private def simPqIncr(s: SparkSession, d: String): DataFrame =
    servedPq(s, d, "pq_incr", incr = true)

  /** The m-values frame both engines iterate: DuckDB rendering. */
  private val PqMs = s"(SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m) ms"

  /** The encode prefix of every PQ oracle (through the pivoted `encp`):
    * slice, argmin-encode (same d2 + tie-break), codes/norms pivoted to
    * fixed columns so the downstream adds run in the engine's subspace
    * order. Shared by the single-probe, batch-probe, and IVFADC chains.
    */
  private def pqEncCtes(centsCte: String): String = {
    val slices = s"list_slice(e.embedding, ms.m * $PqSub + 1, (ms.m + 1) * $PqSub)"
    val kCols = (0 until PqM)
      .map(m => s"max(CASE WHEN m = $m THEN c_id END) AS k$m")
      .mkString(", ")
    val nCols = (0 until PqM)
      .map(m => s"max(CASE WHEN m = $m THEN cn2 END) AS n$m")
      .mkString(", ")
    s"$centsCte, " +
      s"xm AS (SELECT e.vec_id, ms.m AS m, $slices AS x FROM e, $PqMs), " +
      "scored AS (SELECT xm.vec_id, xm.m, cents.c_id, cents.cn2, " +
      s"cents.cn2 - 2 * ${Vec.dotSql("xm.x", "cents.c")} AS d2 " +
      "FROM xm JOIN cents ON xm.m = cents.m), " +
      "enc AS (SELECT vec_id, m, c_id, cn2 FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn " +
      "FROM scored) WHERE rn = 1), " +
      s"encp AS (SELECT vec_id, $kCols, $nCols FROM enc GROUP BY vec_id)"
  }

  private def pqDotSumSql = (0 until PqM).map(m => s"q$m.qdot").mkString(" + ")
  private def pqRn2Sql = (0 until PqM).map(m => s"encp.n$m").mkString(" + ")

  /** The PQ oracle chain after a `cents(m, c_id, c, cn2)` CTE: encode
    * prefix, the single probe's partial-dot lookups, ADC top-10.
    */
  private def pqSqlChain(centsCte: String): String = {
    val qJoins = (0 until PqM)
      .map(m => s"JOIN qd q$m ON q$m.m = $m AND q$m.c_id = encp.k$m")
      .mkString(" ")
    s"${pqEncCtes(centsCte)}, " +
      s"probe AS (SELECT embedding AS p, ${Vec.norm2Sql("embedding")} AS pn2 " +
      "FROM e WHERE vec_id = 0), " +
      "qd AS (SELECT cents.m AS m, cents.c_id AS c_id, " +
      s"${Vec.dotSql(s"list_slice(probe.p, cents.m * $PqSub + 1, (cents.m + 1) * $PqSub)", "cents.c")} AS qdot " +
      "FROM cents, probe), " +
      "adc AS (SELECT encp.vec_id, " +
      s"floor((($pqDotSumSql) / (sqrt($pqRn2Sql) * sqrt(probe.pn2))) * 1000000 + 0.5) / 1000000 AS cos " +
      s"FROM encp $qJoins, probe WHERE encp.vec_id <> 0)"
  }

  private val PqStandinCentsSql =
    s"sub AS (SELECT ms.m AS m, e.vec_id AS c_id, " +
      s"list_slice(e.embedding, ms.m * $PqSub + 1, (ms.m + 1) * $PqSub) AS c " +
      s"FROM e, $PqMs WHERE e.vec_id < $PqK), " +
      s"cents AS (SELECT m, c_id, c, ${Vec.norm2Sql("c")} AS cn2 FROM sub)"

  private val PqSql =
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      s"${pqSqlChain(PqStandinCentsSql)} " +
      "SELECT vec_id, cos FROM adc ORDER BY cos DESC, vec_id LIMIT 10"

  /** Dump-time oracle for q_sim_pq_trained: [[ivfTrainedOracle]]'s idiom
    * per subspace — the trained (m, c_id) sub-centroids as exact-decimal
    * VALUES literals, cn2 recomputed in SQL through the same fold.
    */
  private[graft] def pqTrainedOracle(s: SparkSession, d: String): String = {
    val rows = pqTrainedCents(s, d)
      .map { case (m, id, v) =>
        s"($m, CAST($id AS BIGINT), CAST(" +
          v.map(f => new java.math.BigDecimal(f.toDouble).toPlainString)
            .mkString("[", ", ", "]") +
          " AS DOUBLE[]))"
      }
      .mkString(", ")
    val centsCte =
      s"cents AS (SELECT m, c_id, c, ${Vec.norm2Sql("c")} AS cn2 " +
        s"FROM (VALUES $rows) AS t(m, c_id, c))"
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      s"${pqSqlChain(centsCte)} " +
      "SELECT vec_id, cos FROM adc ORDER BY cos DESC, vec_id LIMIT 10"
  }

  /** q_sim_pq_batch — batch-probe ADC: the QPS serving shape of the
    * compressed tier (the q_sim_batch/q_sim_ivf_batch generalization on
    * codes). Each probe in the batch gets its OWN partial-dot lookup row
    * (B×PqM×PqK doubles — bounded model state, one broadcast); the codes
    * scan runs ONCE for all probes, and the per-probe cut is the
    * mergeable [[graft.expr.TopKAgg]] — k-pair state combining map-side,
    * so the shuffle ships ≤10 pairs per probe per task instead of B×N
    * scored rows into a window sort (the q_agg_topk discipline applied
    * where it matters: a full-scan ADC has no bucket prune to shrink the
    * window input first). Ties (r6'd cos) break vec_id-asc in both the
    * aggregator's total order and the oracle's window.
    */
  private def simPqBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d).select($"vec_id", $"embedding")
    val cbRow = pqCodebookRow(pqStandinCents(e))
    val probeTabs = e
      .filter($"vec_id" < BatchProbes)
      .crossJoin(broadcast(cbRow))
      .select(
        $"vec_id".as("probe_id"),
        Vec.norm2($"embedding").as("pn2"),
        transform($"mcb", mc =>
          transform(mc.getField("cb"), c =>
            Vec.dot(
              slice(
                $"embedding",
                mc.getField("m") * lit(PqSub) + lit(1),
                lit(PqSub)),
              c.getField("c")))).as("qd"))
    val dotSum = (0 until PqM)
      .map(m =>
        element_at(
          element_at($"qd", m + 1),
          (col(s"e$m").getField("c_id") + lit(1L)).cast("int")))
      .reduce(_ + _)
    val rn2 = (0 until PqM).map(m => col(s"e$m").getField("cn2")).reduce(_ + _)
    val scored = pqEncode(e, cbRow, Nil)
      .crossJoin(broadcast(probeTabs))
      .filter($"vec_id" =!= $"probe_id")
      .select(
        $"probe_id",
        $"vec_id",
        X.r6(dotSum / (sqrt(rn2) * sqrt($"pn2"))).as("cos"))
    val topk = udaf(
      new graft.expr.TopKAgg(10),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    scored
      .groupBy($"probe_id")
      .agg(topk($"cos", $"vec_id").as("top"))
      .select($"probe_id", explode($"top").as("p"))
      .select($"probe_id", $"p._2".as("vec_id"), $"p._1".as("cos"))
      .orderBy($"probe_id", $"cos".desc, $"vec_id")
  }

  private val PqBatchSql = {
    val qJoins = (0 until PqM)
      .map(m =>
        s"JOIN qdb q$m ON q$m.m = $m AND q$m.c_id = encp.k$m" +
          (if (m > 0) s" AND q$m.probe_id = q0.probe_id" else ""))
      .mkString(" ")
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      s"${pqEncCtes(PqStandinCentsSql)}, " +
      "qdb AS (SELECT pr.vec_id AS probe_id, cents.m AS m, cents.c_id AS c_id, " +
      s"${Vec.dotSql(s"list_slice(pr.embedding, cents.m * $PqSub + 1, (cents.m + 1) * $PqSub)", "cents.c")} AS qdot " +
      s"FROM e pr, cents WHERE pr.vec_id < $BatchProbes), " +
      s"pn AS (SELECT vec_id AS probe_id, ${Vec.norm2Sql("embedding")} AS pn2 " +
      s"FROM e WHERE vec_id < $BatchProbes), " +
      "adcb AS (SELECT q0.probe_id, encp.vec_id, " +
      s"floor((($pqDotSumSql) / (sqrt($pqRn2Sql) * sqrt(pn.pn2))) * 1000000 + 0.5) / 1000000 AS cos " +
      s"FROM encp $qJoins JOIN pn ON pn.probe_id = q0.probe_id " +
      "WHERE encp.vec_id <> q0.probe_id) " +
      "SELECT probe_id, vec_id, cos FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn " +
      "FROM adcb) WHERE rn <= 10 ORDER BY probe_id, cos DESC, vec_id"
  }

  /** IVFADC oracle: the coarse IVF prefix (cell assignment + nprobe cells,
    * q_sim_ivf's exact chain under c-prefixed names) feeding the PQ chain;
    * the final join keeps only probed-cell candidates.
    */
  private val IvfPqSql =
    s"WITH e AS (SELECT vec_id, embedding, ${Vec.norm2Sql("embedding")} AS n2 " +
      "FROM embeddings), " +
      s"ccents AS (SELECT vec_id AS c_id, embedding AS c, n2 AS cn2 FROM e WHERE vec_id < $IvfCells), " +
      "cscored AS (SELECT e.vec_id, e.n2, ccents.c_id, " +
      s"${Vec.dotSql("e.embedding", "ccents.c")} / (sqrt(e.n2) * sqrt(ccents.cn2)) AS ccos " +
      "FROM e, ccents), " +
      "cranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn " +
      "FROM cscored), " +
      "cellsc AS (SELECT vec_id, c_id AS cell FROM cranked WHERE rn = 1), " +
      s"pcells AS (SELECT c_id AS pcell FROM cranked WHERE vec_id = 0 AND rn <= $NProbe), " +
      s"${pqSqlChain(PqStandinCentsSql)} " +
      "SELECT adc.vec_id, cellsc.cell, adc.cos FROM adc " +
      "JOIN cellsc ON adc.vec_id = cellsc.vec_id " +
      "JOIN pcells ON cellsc.cell = pcells.pcell " +
      "ORDER BY adc.cos DESC, adc.vec_id LIMIT 10"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_semantic", dedupSemantic, Some(SemanticSql)),
    QueryDef.served("q_dedup_semantic_incr", semanticIncrSplit, SemanticIncrSql),
    QueryDef("q_cluster_stats", clusterStats, Some(ClusterStatsSql)),
    QueryDef("q_cluster_terms", clusterTerms, Some(ClusterTermsSql)),
    QueryDef("q_dedup_semantic_trained", dedupSemanticTrained, None,
      oracleGen = Some(semTrainedOracle)),
    QueryDef("q_embed_quantize", embedQuantize, Some(QuantizeSql)),
    QueryDef("q_sim_quantized", simQuantized, Some(QuantizedSql)),
    QueryDef.served("q_sim_quantized_served", simQuantizedServedSplit, QuantizedSql),
    QueryDef("q_sim_cosine", simCosine, Some(CosineSql)),
    QueryDef("q_sim_topk", simTopk, Some(TopkSql)),
    QueryDef("q_sim_ann", simAnn, Some(AnnSql)),
    QueryDef("q_sim_batch", simBatch, Some(BatchSql)),
    QueryDef("q_sim_fetch", simFetch, Some(FetchSql)),
    QueryDef("q_sim_ivf", simIvf, Some(IvfSql)),
    QueryDef("q_sim_ivf_batch", simIvfBatch, Some(IvfBatchSql)),
    QueryDef.served("q_sim_served", simServedSplit, BatchSql),
    QueryDef.served("q_sim_incr", simIncrSplit, BatchSql),
    QueryDef.served("q_sim_ivf_served", simIvfServedSplit, IvfBatchSql),
    QueryDef("q_sim_ivf_trained", simIvfTrained, None,
      oracleGen = Some(ivfTrainedOracle)),
    QueryDef("q_sim_pq", simPq, Some(PqSql)),
    QueryDef("q_sim_pq_served", simPqServed, Some(PqSql)),
    QueryDef("q_sim_pq_incr", simPqIncr, Some(PqSql)),
    QueryDef("q_sim_pq_batch", simPqBatch, Some(PqBatchSql)),
    QueryDef("q_sim_ivfpq", simIvfPq, Some(IvfPqSql)),
    QueryDef("q_sim_pq_trained", simPqTrained, None,
      oracleGen = Some(pqTrainedOracle)),
    QueryDef(
      "q_multimodal",
      multimodal,
      Some(
        "SELECT doc_id, lang, label, n_chars, CAST(embedding[1] AS DOUBLE) AS e1 " +
          "FROM documents JOIN embeddings ON doc_id = vec_id " +
          "WHERE n_chars > 200 AND embedding[1] > 0 ORDER BY doc_id"))
  )
}
