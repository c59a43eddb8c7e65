package graft

import java.nio.file.Files

import graft.ops.{DedupOps, LmOps, SimilarityOps, StreamOps, TextOps, Vec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ∀-grade gate on the delta ≡ rebuild contracts (verdict-r11 #4): the
  * five incremental families are proven at fixed split fractions by
  * their unit specs (10 % / 50 %); this spec quantifies over RANDOM
  * corpora AND RANDOM split points — including the empty batch, batch =
  * everything, and the single-doc batch — the same spec-vs-∀ gap
  * SemanticPropertySpec closed for the anchor rule.
  *
  * Harness: 200 GENERATED mini-corpora per modality, each with its own
  * uniformly drawn split point (the first three forced to the empty /
  * all / single-doc edges), composed into ONE union instance per family
  * and run through seed → apply → compare-against-rebuild ONCE. The
  * composition is sound because sub-corpora are mutually invisible to
  * every similarity key by construction — text tokens carry a per-corpus
  * namespace (distinct md5s, shingles, and verified-Jaccard 0 across
  * corpora), vectors occupy per-corpus ORTHOGONAL coordinate blocks
  * (cross-corpus cosine exactly 0, below every τ) — so the union
  * theorem decomposes into the 200 per-corpus theorems, while batch
  * membership varies per corpus. Families whose scores couple through
  * corpus-global statistics (BM25's N, L; the semantic epoch's k and
  * codebook) are compared at the union level, which is exactly their
  * production contract: generation-merged serving must equal the
  * monolithic rebuild of the same union.
  *
  * Ids encode (corpus, batch, seq) with batch ids above base ids inside
  * every corpus — the monotone-ingest contract all five families
  * document.
  */
class IncrementalPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Subs = 200

  /** id = corpus·100000 + batch·1000 + seq: monotone within a corpus. */
  private def mkId(k: Int, batch: Int, i: Int): Long =
    k.toLong * 100000L + batch.toLong * 1000L + i.toLong

  private val isBatchCol = expr("(doc_id % 100000) div 1000 = 1")

  // ---- generated text corpora (dedup + bm25 share them) --------------

  /** Per-corpus docs with duplication structure: fresh token bags from
    * an 8-token namespaced vocabulary, exact copies, permutations
    * (J = 1 on distinct-token sets), and single-token mutations of
    * earlier docs — the moves that make exact-md5, band-near, bridge,
    * and batch-internal clusters all occur constantly. The split point
    * s ∈ [0, n] is uniform; docs before s are base (batch 0), the rest
    * batch 1.
    */
  private final case class TextSub(k: Int, texts: Seq[String], split: Int)

  private lazy val textSubs: Seq[TextSub] = {
    def vocab(k: Int): IndexedSeq[String] = (0 until 8).map(j => s"c${k}t$j")
    val genSub: Gen[(Int, Seq[(Int, Int, Seq[Int], Int)])] = for {
      n <- Gen.choose(1, 10)
      docs <- Gen.listOfN(n, for {
        move <- Gen.choose(0, 5) // 0-2 fresh, 3 copy, 4 perm, 5 mutate
        src <- Gen.choose(0, math.max(0, n - 1))
        toks <- Gen.listOfN(10, Gen.choose(0, 7))
        len <- Gen.choose(4, 10)
      } yield (move, src, toks.take(len), len))
      s <- Gen.choose(0, n)
    } yield (s, docs)
    val raw = Gen.listOfN(Subs, genSub)
      .pureApply(Gen.Parameters.default, Seed(4242L))
    raw.zipWithIndex.map { case ((s0, docs), k) =>
      val v = vocab(k)
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      docs.zipWithIndex.foreach { case ((move, src, toks, _), i) =>
        val fresh = toks.map(v)
        out += (if (i == 0) fresh
                else move match {
                  case 3 => out(src % i)
                  case 4 => out(src % i).reverse
                  case 5 => out(src % i).updated(0, v((src + 1) % 8))
                  case _ => fresh
                })
      }
      val n = out.size
      // forced edges: corpus 0 = empty batch, 1 = batch is everything,
      // 2 = single-doc batch; the rest keep their uniform split
      val s = k match {
        case 0 => n
        case 1 => 0
        case 2 => math.max(0, n - 1)
        case _ => s0
      }
      TextSub(k, out.map(_.mkString(" ")).toSeq, s)
    }
  }

  private def textFrame(batch: Int => Boolean): DataFrame =
    textSubs.flatMap { sub =>
      sub.texts.zipWithIndex.collect {
        case (t, i) if batch(if (i < sub.split) 0 else 1) =>
          (mkId(sub.k, if (i < sub.split) 0 else 1, i), "en", t)
      }
    }.toDF("doc_id", "lang", "text")

  // ---- generated vector corpora (embed + ann + semantic share them) --

  /** Per-corpus vectors in an orthogonal 3-dim block of a Subs·3-dim
    * space, coords from a small discrete pool, with exact copies,
    * jittered copies (near), and negations (far) of earlier vectors —
    * ties and cos = 1 witnesses occur constantly.
    */
  private final case class VecSub(k: Int, vecs: Seq[Seq[Float]], split: Int)

  private val BlockDim = 3
  private lazy val vecSubs: Seq[VecSub] = {
    val coord = Gen.oneOf(-1f, -0.5f, 0.5f, 1f, 2f)
    val genSub: Gen[(Int, Seq[(Int, Int, Seq[Float])])] = for {
      n <- Gen.choose(2, 8)
      vecs <- Gen.listOfN(n, for {
        move <- Gen.choose(0, 5) // 0-2 fresh, 3 copy, 4 jitter, 5 negate
        src <- Gen.choose(0, math.max(0, n - 1))
        c <- Gen.listOfN(BlockDim, coord)
      } yield (move, src, c))
      s <- Gen.choose(0, n)
    } yield (s, vecs)
    val raw = Gen.listOfN(Subs, genSub)
      .pureApply(Gen.Parameters.default, Seed(2424L))
    raw.zipWithIndex.map { case ((s0, vecs), k) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
      vecs.zipWithIndex.foreach { case ((move, src, c), i) =>
        out += (if (i == 0) c
                else move match {
                  case 3 => out(src % i)
                  case 4 => out(src % i).updated(0, out(src % i).head + 0.5f)
                  case 5 => out(src % i).map(-_)
                  case _ => c
                })
      }
      val n = out.size
      val s = k match {
        case 0 => n
        case 1 => 0
        case 2 => math.max(0, n - 1)
        case _ => s0
      }
      VecSub(k, out.toSeq, s)
    }
  }

  /** Lift a block vector into the global orthogonal layout. */
  private def globalVec(k: Int, v: Seq[Float]): Seq[Float] = {
    val a = Array.fill(Subs * BlockDim)(0f)
    v.zipWithIndex.foreach { case (x, i) => a(k * BlockDim + i) = x }
    a.toSeq
  }

  private def vecFrame(batch: Int => Boolean): DataFrame =
    vecSubs.flatMap { sub =>
      sub.vecs.zipWithIndex.collect {
        case (v, i) if batch(if (i < sub.split) 0 else 1) =>
          (mkId(sub.k, if (i < sub.split) 0 else 1, i), globalVec(sub.k, v))
      }
    }.toDF("vec_id", "embedding")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def assignMap(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  // --------------------------------------------------------------------

  test("q_dedup_incr: delta-apply == rebuild over 200 corpora with random splits") {
    val base = textFrame(_ == 0).localCheckpoint(true)
    val delta = textFrame(_ == 1).localCheckpoint(true)
    assert(base.count() > 0 && delta.count() > 0)
    val (md5I, bandI) = DedupOps.buildDedupIndex(spark, base)
    val incr = assignMap(DedupOps.applyDedupDelta(spark, delta, md5I, bandI))
    val full = assignMap(DedupOps.fullAssign(spark, base.unionByName(delta)))
    val want = full.filter { case (id, _) => (id % 100000L) / 1000L == 1L }
    assert(incr === want)
    // the empty-batch corpus contributed nothing and the all-batch corpus
    // contributed only batch rows — the edges really are in the instance
    assert(!incr.keys.exists(_ < 100000L), "corpus 0 must have an empty batch")
    assert(incr.keys.exists(id => id >= 100000L && id < 200000L),
      "corpus 1 must be all batch")
    // and the global edge cases the union cannot contain:
    val emptyDelta = spark.emptyDataset[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(assignMap(DedupOps.applyDedupDelta(spark, emptyDelta, md5I, bandI)).isEmpty,
      "an empty batch applies to an empty assignment")
  }

  test("q_dedup_embed_incr: delta-apply == rebuild over 200 corpora with random splits") {
    val base = vecFrame(_ == 0).localCheckpoint(true)
    val delta = vecFrame(_ == 1).localCheckpoint(true)
    assert(base.count() > 0 && delta.count() > 0)
    val all = base.unionByName(delta)
    val full = pairSet(DedupOps.verifyCosinePairsFrom(
      all.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2")),
      DedupOps.embBandedCandidates(all)))
    val want = full.filter { case (_, b) => (b % 100000L) / 1000L == 1L }
    val got = pairSet(
      DedupOps.applyEmbedDelta(spark, delta, DedupOps.buildEmbedIndex(spark, base)))
    assert(got === want)
    assert(want.nonEmpty, "the generated corpora produced no near pairs — vacuous")
    // no cross-corpus pair ever forms (the orthogonality that makes the
    // 200-case decomposition sound)
    assert(!full.exists { case (a, b) => a / 100000L != b / 100000L })
  }

  test("q_dedup_semantic_incr: batch survivors == rebuild over 200 corpora with random splits") {
    val all = vecFrame(_ => true)
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
      .localCheckpoint(true)
    val k = SimilarityOps.semCellCount(all)
    val cells = SimilarityOps
      .semanticCellsWith(all, SimilarityOps.semCentsOf(all, k))
      .localCheckpoint(true)
    val isBatch = expr("(vec_id % 100000) div 1000 = 1")
    val baseCells = cells.filter(!isBatch)
    val batchCells = cells.filter(isBatch).localCheckpoint(true)
    // the serve shape of semanticIncrSplit: base read pruned to the
    // batch's probed cells, witnesses from probed base ∪ batch
    val probed = batchCells.select($"cell").distinct().collect().map(_.get(0))
    val basePruned = baseCells.filter($"cell".isin(probed.toSeq: _*))
    val got = batchCells
      .join(
        SimilarityOps.semWitnessed(basePruned.unionByName(batchCells), batchCells),
        Seq("vec_id"),
        "left_anti")
      .select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = cells
      .join(SimilarityOps.semWitnessed(cells, cells), Seq("vec_id"), "left_anti")
      .filter(isBatch)
      .select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty && got.size < batchCells.count(),
      "batch survivors must be a strict subset — otherwise the prune was vacuous")
  }

  test("q_index_bm25_incr: generation-merged serve == monolithic over 200 corpora with random splits") {
    val dir = Files.createTempDirectory("graft_prop_bm25").toString
    val base = textFrame(_ == 0)
    val delta = textFrame(_ == 1)
    TextOps.writeBm25IndexFrom(spark, base, s"$dir/base")
    TextOps.writeBm25IndexFrom(spark, delta, s"$dir/inc")
    TextOps.writeBm25IndexFrom(spark, base.unionByName(delta), s"$dir/full")
    // one query per corpus probing its own namespaced vocabulary — every
    // corpus's random batch boundary is exercised through its own query
    val q = textSubs.flatMap(sub =>
      Seq((sub.k, s"c${sub.k}t0"), (sub.k, s"c${sub.k}t1")))
      .toDF("query_id", "term")
    val incr = TextOps.serveBm25For(spark, Seq(s"$dir/base", s"$dir/inc"), q)
      .collect().map(_.toString).sorted.toSeq
    val mono = TextOps.serveBm25For(spark, Seq(s"$dir/full"), q)
      .collect().map(_.toString).sorted.toSeq
    assert(incr === mono)
    assert(incr.nonEmpty)
  }

  test("q_lm_*: postings-served model and scores == corpus train over 200 corpora with random splits") {
    // the SIXTH delta ≡ rebuild family: the LM serves ride the bm25
    // postings generations, so generation-merged postings (base + inc)
    // must produce the byte-identical model AND per-doc scores as a
    // monolithic train over the union corpus — this quantifies the
    // tf-grouping identity (Σ_tok r6(N/cf) = Σ_term tf·r6(N/cf)) and
    // the cross-generation cf/N additivity over random corpora and
    // random split points, empty/all/single-doc edges included
    val dir = Files.createTempDirectory("graft_prop_lm").toString
    val base = textFrame(_ == 0)
    val delta = textFrame(_ == 1)
    TextOps.writeBm25IndexFrom(spark, base, s"$dir/base")
    TextOps.writeBm25IndexFrom(spark, delta, s"$dir/inc")
    val union = base.unionByName(delta)
    val postings = spark.read.parquet(s"$dir/base/postings")
      .unionByName(spark.read.parquet(s"$dir/inc/postings"))
    val nTotal = spark.read.parquet(s"$dir/base/stats")
      .unionByName(spark.read.parquet(s"$dir/inc/stats"))
      .agg(sum($"l").as("n_total"))
    val gotModel = LmOps.lmUnigramFromCounts(LmOps.unigramCountsFromPostings(postings, nTotal))
      .collect().map(_.toString).toSeq
    val wantModel = LmOps.lmUnigramOf(union).collect().map(_.toString).toSeq
    assert(gotModel === wantModel)
    assert(gotModel.nonEmpty)
    val gotScores = LmOps.lmScoreOf(union, LmOps.lmScoreAggFromPostings(postings, nTotal))
      .collect().map(_.toString).toSeq
    val ft = TextOps.bm25TokensOf(union)
    val wantScores = LmOps
      .lmScoreOf(union, LmOps.rarityAggOf(ft, LmOps.unigramCountsOf(ft)))
      .collect().map(_.toString).toSeq
    assert(gotScores === wantScores)
    assert(gotScores.nonEmpty)
  }

  test("q_sim_incr: generation-merged ANN serve == monolithic over 200 corpora with random splits") {
    val dir = Files.createTempDirectory("graft_prop_ann").toString + "/idx"
    val mono = Files.createTempDirectory("graft_prop_ann_m").toString + "/idx"
    val base = vecFrame(_ == 0)
    val delta = vecFrame(_ == 1)
    StreamOps.AnnFamily.seed(spark, base, dir)
    StreamOps.AnnFamily.commit(delta, dir, batchId = 0L)
    SimilarityOps.writeAnnIndexFor(spark, base.unionByName(delta), mono)
    // one multi-probe per corpus: its first vector, Hamming-1 exploded
    // (the batchProbeFrame shape over the generated corpus)
    val probeIds = vecSubs.map(sub => mkId(sub.k, if (sub.split > 0) 0 else 1, 0))
    val probes = base.unionByName(delta)
      .filter($"vec_id".isin(probeIds: _*))
      .select(
        $"vec_id",
        $"embedding",
        Vec.norm2($"embedding").as("n2"),
        SimilarityOps.bucketCol.as("bucket"))
      .select(
        $"vec_id".as("probe_id"),
        $"embedding".as("p"),
        $"n2".as("pn2"),
        explode(array(
          $"bucket" +:
            (0 until SimilarityOps.SignBits)
              .map(j => $"bucket".bitwiseXOR(lit(1L << j))): _*)).as("pbucket"))
      .localCheckpoint(true)
    val got = SimilarityOps.serveAnnBatch(spark, StreamOps.AnnFamily.roots(spark, dir), probes)
      .collect().map(_.toString).toSeq
    val want = SimilarityOps.serveAnnBatch(spark, Seq(mono), probes)
      .collect().map(_.toString).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }
}
