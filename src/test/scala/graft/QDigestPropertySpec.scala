package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expr.QDigest

/** ∀-grade gate on the q-digest ([[graft.expr.QDigest]]): QDigestSpec
  * proves the bound and the merge invariants on fixed adversarial
  * corpora; this closes the ∀ gap over GENERATED multisets — skewed
  * duplicates, tiny and large k, out-of-universe values — with the same
  * three properties a 100 TB rollup actually leans on:
  *
  *  1. rank-error bound: every estimate's true rank bracket lies within
  *     LogU·(n/k+1) of the target rank (the documented guarantee, not a
  *     loosened test-only corridor);
  *  2. merge-order bit-invariance: digests of any partition of the
  *     multiset, summed in shuffled vs sorted order, serialize to
  *     identical bytes (what makes a multi-executor shuffle safe);
  *  3. merged-path bound: the union of per-part digests re-estimates
  *     within the two-compression envelope LogU·(2n/k + parts + 1).
  */
class QDigestPropertySpec extends SparkSpec {

  private def buildBytes(vals: Seq[Long], k: Int): Array[Byte] = {
    val agg = new graft.expr.QDigestBuildAgg(k)
    agg.finish(vals.foldLeft(agg.zero)(agg.reduce))
  }

  private def rankOf(vals: Seq[Long], x: Long): Long =
    vals.count(QDigest.clamp(_) <= x).toLong

  test("rank bound, merge bit-invariance, and merged-path bound on 60 generated multisets") {
    // values deliberately straddle the universe edge (clamping path) and
    // repeat heavily (duplicate-mass compression path)
    val value = Gen.frequency(
      5 -> Gen.choose(0L, 2000L),
      3 -> Gen.const(777L), // hot spike
      1 -> Gen.choose(QDigest.U - 10L, QDigest.U + 100L))
    val gen = for {
      n <- Gen.choose(200, 5000)
      k <- Gen.oneOf(8, 32, 256, 4096)
      vals <- Gen.listOfN(n, value)
    } yield (k, vals)
    val cases = Gen.listOfN(60, gen)
      .pureApply(Gen.Parameters.default, Seed(101L))

    cases.foreach { case (k, vals) =>
      val n = vals.size
      val sk = buildBytes(vals, k)
      val bound = QDigest.LogU.toLong * (n.toLong / k + 1)
      for (q <- Seq(0.1, 0.5, 0.9)) {
        val est = QDigest.quantile(sk, q)
        val target = math.ceil(q * n).toLong
        assert(rankOf(vals, est) >= target - bound,
          s"k=$k n=$n q=$q est=$est too low")
        assert(rankOf(vals, est - 1) <= target + bound,
          s"k=$k n=$n q=$q est=$est too high")
      }

      // partition into 1..6 parts deterministically, merge both orders
      val parts = vals.zipWithIndex
        .groupBy { case (_, i) => i % (1 + (n % 6)) }
        .toSeq
        .sortBy(_._1)
        .map { case (_, vs) => buildBytes(vs.map(_._1), k) }
      def mergeAll(ps: Seq[Array[Byte]]): Array[Byte] =
        QDigest.serialize(
          ps.map(QDigest.pairs)
            .foldLeft(QDigest.empty)(QDigest.sum),
          k)
      val a = mergeAll(parts)
      val b = mergeAll(parts.reverse)
      assert(java.util.Arrays.equals(a, b), s"k=$k n=$n merge order changed bytes")

      val mBound = QDigest.LogU.toLong * (2L * n / k + parts.size + 1)
      for (q <- Seq(0.5, 0.9)) {
        val est = QDigest.quantile(a, q)
        val target = math.ceil(q * n).toLong
        assert(rankOf(vals, est) >= target - mBound,
          s"k=$k n=$n q=$q merged est=$est too low")
        assert(rankOf(vals, est - 1) <= target + mBound,
          s"k=$k n=$n q=$q merged est=$est too high")
      }
    }
  }

  /** The WIDE-domain posture (verdict-r16 #5): logU=31 — an exact leaf
    * buffer can no longer ride a universe this wide, so the build
    * aggregator's in-reduce re-compression cap engages. What the cap
    * keeps: memory O(maxBuffer) per partial and the rank corridor
    * (c + 1)·logU·(n/k + 1), where c bounds the early compressions by
    * refill arithmetic — each compression leaves ≤ 3k nodes, so at
    * least (maxBuffer − 3k) new leaves arrive between compressions.
    * What the cap TRADES (the documented determinism trade, made code):
    * the kept node set now depends on partition boundaries, so this
    * test asserts the corridor, never byte equality across partition
    * shapes.
    */
  test("wide domain logU=31: capped build stays within the compression-count corridor") {
    val logU = 31
    val k = 4096
    val maxBuffer = 16384
    val n = 50000
    // deterministic LCG over the wide domain, plus a beyond-universe
    // tail exercising the clamp at 2^31 - 1
    val vals = (0 until n).map { i =>
      val x = (i * 6364136223846793005L + 1442695040888963407L) >>> 33
      if (i % 997 == 0) (1L << logU) + (x & 0xffffL) else x & 0x7fffffffL
    }
    def rank31(x: Long): Long = vals.count(QDigest.clamp(_, logU) <= x).toLong

    // two partition shapes fold through the SAME capped aggregator
    for (nParts <- Seq(1, 4)) {
      val agg = new graft.expr.QDigestBuildAgg(k, logU, maxBuffer)
      val partials = vals.grouped((n + nParts - 1) / nParts).map { part =>
        part.foldLeft(agg.zero)(agg.reduce)
      }
      val sk = agg.finish(partials.reduce(agg.merge))
      val perPart = n / nParts
      val cMax = 1 + math.max(0, perPart - maxBuffer) / (maxBuffer - 3 * k) + 1
      val corridor = (cMax + 1).toLong * logU * (n.toLong / k + 1)
      for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
        val est = QDigest.quantile(sk, q)
        val target = math.ceil(q * n).toLong
        assert(rank31(est) >= target - corridor,
          s"parts=$nParts q=$q est=$est rank=${rank31(est)} target=$target corridor=$corridor")
        assert(rank31(est - 1) <= target + corridor,
          s"parts=$nParts q=$q est=$est corridor=$corridor")
      }
      val kept = QDigest.nodes(QDigest.pairs(sk))
      assert(kept <= 3 * k, s"parts=$nParts kept $kept nodes > 3k")
    }
  }

  /** Saturation at the clamp boundary: mass at and beyond the universe
    * edge lands in the extreme leaf U−1 (and below 0 in leaf 0), total
    * mass is conserved, and upper quantiles probing into the saturated
    * bucket return exactly U−1 — the documented out-of-domain behavior,
    * pinned at both edges.
    */
  test("clamp-boundary saturation: out-of-universe mass saturates the edge leaves exactly") {
    val k = 256
    val u = QDigest.U
    // 30% below-domain, 30% in-domain, 40% at/over the edge
    val vals =
      (0 until 300).map(i => -1000L - i) ++
        (0 until 300).map(i => 50L * i) ++
        (0 until 400).map(i => u - 1L + (i % 7)) // u-1 and beyond, clamped
    val sk = buildBytes(vals, k)
    val n = vals.size
    assert(QDigest.mass(sk) === n.toLong, "clamped mass must still count into n")
    // everything from rank .61 up sits in the saturated top leaf
    for (q <- Seq(0.7, 0.9, 1.0))
      assert(QDigest.quantile(sk, q) === u - 1L, s"q=$q must saturate to U-1")
    // the below-domain mass saturates leaf 0: a quantile inside the
    // bottom 30% resolves to a node whose range starts at 0
    val est = QDigest.quantile(sk, 0.15)
    val bound = QDigest.LogU.toLong * (n.toLong / k + 1)
    assert(vals.count(QDigest.clamp(_) <= est) >= math.ceil(0.15 * n).toLong - bound)
  }
}
