package graft

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.{QDigest, QDigestBuildAgg, QDigestMergeAgg}

/** The pair-array q-digest kernels ([[graft.expr.QDigest]]) write the
  * same bytes as the map-based kernel they replaced, so every persisted
  * digest reads unchanged and every registry estimate stays put. The
  * reference below is that kernel's `add`, `sum`, `compress`,
  * `serialize`, `deserialize` and `quantile` (code verbatim), plus its two
  * aggregators' buffer rules. Over seeded random inputs at
  * logU ∈ {3, 5, 8, 17, 20, 37} and k ∈ {1, 2, 4, 16, 4096}: leaf and
  * interior nodes (merged digests carry interior ones), compression,
  * merges with null and empty parts, capped and exact builds over
  * several partition shapes, the universe-mismatch error, and the named
  * errors for corrupt and v1-format bytes.
  */
class QDigestKernelSpec extends AnyFunSuite {

  private val LogUs = Seq(3, 5, 8, 17, 20, 37)
  private val Ks = Seq(1, 2, 4, 16, 4096)

  /** The map-based kernel, as it was written. */
  private object MapKernel {
    val LogU = 17
    private val NKey = 0L

    def clamp(v: Long, logU: Int): Long =
      math.max(0L, math.min((1L << logU) - 1L, v))

    /** Leaf increment into a build buffer. */
    def add(b: Map[Long, Long], v: Long, logU: Int): Map[Long, Long] = {
      val leaf = (1L << logU) + clamp(v, logU)
      b.updated(leaf, b.getOrElse(leaf, 0L) + 1L)
        .updated(NKey, b.getOrElse(NKey, 0L) + 1L)
    }

    /** Key-wise sum — the merge of two buffers (and of two digests). */
    def sum(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] = {
      val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
      small.foldLeft(big) { case (acc, (k, c)) =>
        acc + (k -> (acc.getOrElse(k, 0L) + c))
      }
    }

    /** Deterministic bottom-up q-digest compression: for each sibling pair
      * (level logU up to 1, ids ascending — a fixed order, so the result
      * is a pure function of the counts), if the pair plus its parent hold
      * less than the threshold ceil(n/k), their mass moves to the parent.
      * Root mass never moves. Returns the kept (id, count) pairs sorted by
      * id, WITHOUT the n entry.
      */
    def compress(counts: Map[Long, Long], k: Int, logU: Int): Array[(Long, Long)] = {
      val n = counts.getOrElse(NKey, 0L)
      val t = if (k <= 0) 1L else (n + k - 1) / k // ceil(n/k), ≥ 1 when n ≥ 1
      val m = mutable.LongMap.empty[Long]
      counts.foreach { case (id, c) => if (id != NKey && c != 0L) m(id) = c }
      var level = logU
      while (level >= 1) {
        val ids = m.keysIterator.filter(levelOf(_) == level).toArray.sorted
        var i = 0
        while (i < ids.length) {
          val id = ids(i)
          // visit each sibling pair once, at its even member (or the odd
          // member when the even one is absent)
          val sib = id ^ 1L
          if ((id & 1L) == 0L || !m.contains(sib)) {
            val parent = id >> 1
            val pairSum = m.getOrElse(id, 0L) + (if ((id & 1L) == 0L)
              m.getOrElse(sib, 0L)
            else 0L)
            if (pairSum + m.getOrElse(parent, 0L) < t && parent >= 1L) {
              if (pairSum > 0L) m(parent) = m.getOrElse(parent, 0L) + pairSum
              m.remove(id)
              if ((id & 1L) == 0L) m.remove(sib)
            }
          }
          i += 1
        }
        level -= 1
      }
      m.toArray.sortBy(_._1)
    }
    def serialize(counts: Map[Long, Long], k: Int, logU: Int): Array[Byte] = {
      val nodes = compress(counts, k, logU)
      val bb = java.nio.ByteBuffer.allocate(16 + 16 * nodes.length)
      bb.putLong(counts.getOrElse(NKey, 0L))
      bb.putInt(logU)
      bb.putInt(nodes.length)
      nodes.foreach { case (id, c) => bb.putLong(id); bb.putLong(c) }
      bb.array()
    }

    /** Structural validation is strict: persisted sketch
      * state can arrive truncated or corrupt, and a garbage node count
      * must fail as a NAMED corruption, not a BufferUnderflowException
      * deep in an executor (or a silent empty digest).
      */
    def deserialize(bytes: Array[Byte]): (Map[Long, Long], Int) = {
      if (bytes == null || bytes.length == 0) return (Map.empty, LogU)
      require(
        bytes.length >= 16,
        s"corrupt q-digest: ${bytes.length} bytes, header needs 16")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getLong()
      val logU = bb.getInt()
      val cnt = bb.getInt()
      // Format-skew diagnosis, not a version byte: the v1
      // wire format (pre-logU) was n(8B), count(8B LONG), pairs — its
      // count's high word lands where v2 keeps logU, so v1 state reads as
      // logU=0. Recognize that exact shape (length arithmetic checks out
      // against the count's LOW word) and fail as a VERSION mismatch with
      // the recovery step, instead of misreporting durable-but-stale
      // state as corruption. A real version byte would break already-written
      // v2 state the same way v2 broke v1; the diagnosis is back- and
      // forward-compatible with everything actually persisted.
      if (logU == 0 && bytes.length == 16 + 16L * cnt)
        throw new IllegalArgumentException(
          s"q-digest v1 wire format (no logU header, $cnt nodes): version " +
            "mismatch, not corruption — wipe the containing index root " +
            "(delete its dataset dir under spark.graft.index.root) so the " +
            "state rebuilds under the current format")
      require(
        n >= 0 && cnt >= 0 && logU >= 1 && logU <= 62,
        s"corrupt q-digest header: n=$n logU=$logU nodes=$cnt")
      require(
        bytes.length == 16 + 16L * cnt,
        s"corrupt q-digest: ${bytes.length} bytes for $cnt nodes (want ${16 + 16L * cnt})")
      val b = Map.newBuilder[Long, Long]
      b += (NKey -> n)
      var i = 0
      while (i < cnt) { b += (bb.getLong() -> bb.getLong()); i += 1 }
      (b.result(), logU)
    }

    /** Digest payload without the universe — the merge path's view. */
    def counts(bytes: Array[Byte]): Map[Long, Long] = deserialize(bytes)._1

    /** Rank-q estimate: nodes in postorder of value range (hi ascending,
      * descendants before ancestors), cumulative count to the first node
      * reaching ceil(q·n) — its hi endpoint is the estimate, off by at
      * most the compression's rank error. Returns the clamped-universe
      * value (cents at the default domain), -1 on an empty digest.
      */
    def quantile(bytes: Array[Byte], q: Double): Long = {
      val (m, logU) = deserialize(bytes)
      val u = 1L << logU
      val n = m.getOrElse(NKey, 0L)
      if (n <= 0L) return -1L
      val target = math.max(1L, math.ceil(q * n).toLong)
      val nodes = m.iterator
        .filter(_._1 != NKey)
        .map { case (id, c) =>
          val lvl = levelOf(id)
          val span = logU - lvl
          val lo = (id << span) - u
          val hi = lo + (1L << span) - 1L
          (hi, lo, c)
        }
        .toArray
        .sortBy { case (hi, lo, _) => (hi, -lo) }
      var cum = 0L
      var i = 0
      while (i < nodes.length) {
        cum += nodes(i)._3
        if (cum >= target) return nodes(i)._1
        i += 1
      }
      nodes.last._1
    }

    private def levelOf(id: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(id)

    /** QDigestBuildAgg's buffer rule: an early compression when the map
      * (its n entry included) outgrows `maxBuffer`.
      */
    def capped(b: Map[Long, Long], k: Int, logU: Int, maxBuffer: Int): Map[Long, Long] =
      if (maxBuffer > 0 && b.size > maxBuffer)
        compress(b, k, logU).toMap
          .updated(0L, b.getOrElse(0L, 0L)) // NKey: total mass survives
      else b

    /** QDigestMergeAgg's per-part read. */
    def checked(sk: Array[Byte], logU: Int): Map[Long, Long] = {
      val (m, lu) = deserialize(sk)
      require(
        m.isEmpty || lu == logU,
        s"q-digest universe mismatch: part has logU=$lu, merge expects $logU")
      m
    }
  }

  private def pairsOf(m: Map[Long, Long]): Array[Long] = {
    val nodes = m.toSeq.filter(_._1 != 0L).sortBy(_._1)
    (m.getOrElse(0L, 0L) +: nodes.flatMap { case (id, c) => Seq(id, c) }).toArray
  }

  /** Random node counts over one clustered stretch of the universe:
    * leaves with repeats, and interior nodes above some of them.
    */
  private def randomCounts(rnd: Random, logU: Int): Map[Long, Long] = {
    val u = 1L << logU
    val width = math.min(u, 1L << (1 + rnd.nextInt(math.min(logU, 9))))
    val base = (rnd.nextLong() & Long.MaxValue) % (u - width + 1)
    val m = mutable.Map.empty[Long, Long]
    for (_ <- 0 until 1 + rnd.nextInt(60)) {
      val leaf = u + base + (rnd.nextLong() & Long.MaxValue) % width
      val id = if (rnd.nextInt(4) == 0) leaf >> (1 + rnd.nextInt(logU)) else leaf
      m(id) = m.getOrElse(id, 0L) + 1L + rnd.nextInt(if (rnd.nextBoolean()) 3 else 40)
    }
    val mass = m.values.sum
    // n is the mass, sometimes with slack (a part's n also counts mass
    // an earlier compression absorbed into nodes outside this stretch)
    m(0L) = mass + (if (rnd.nextInt(3) == 0) rnd.nextInt(200) else 0)
    m.toMap
  }

  private def cases(seed: Long)(body: (Random, Int, Int) => Unit): Unit =
    for (logU <- LogUs; k <- Ks) {
      val rnd = new Random(seed * 1000003L + logU * 31L + k)
      body(rnd, logU, k)
    }

  private def same(a: Array[Byte], b: Array[Byte], what: => String): Unit =
    assert(java.util.Arrays.equals(a, b), what)

  test("compress and serialize: identical bytes on 3,000 random count sets") {
    var n = 0
    cases(11L) { (rnd, logU, k) =>
      for (i <- 0 until 100) {
        val m = randomCounts(rnd, logU)
        val want = MapKernel.compress(m, k, logU)
        val got = QDigest.compress(pairsOf(m), k, logU)
        assert(got.toSeq === (m(0L) +: want.toSeq.flatMap { case (id, c) => Seq(id, c) }),
          s"compress logU=$logU k=$k case $i: $m")
        val bytes = MapKernel.serialize(m, k, logU)
        same(QDigest.serialize(pairsOf(m), k, logU), bytes, s"serialize logU=$logU k=$k case $i")
        for (q <- Seq(0.0, 0.01, 0.3, 0.5, 0.95, 1.0))
          assert(QDigest.quantile(bytes, q) === MapKernel.quantile(bytes, q),
            s"quantile logU=$logU k=$k q=$q case $i")
        assert(QDigest.mass(bytes) === m(0L))
        n += 1
      }
    }
    assert(n === 3000)
  }

  test("merge: identical bytes for merged digests, with null and empty parts") {
    cases(12L) { (rnd, logU, k) =>
      for (i <- 0 until 20) {
        val parts: Seq[Array[Byte]] = Seq.fill(1 + rnd.nextInt(6)) {
          rnd.nextInt(8) match {
            case 0 => null
            case 1 => Array.emptyByteArray
            case _ => MapKernel.serialize(randomCounts(rnd, logU), 1 + rnd.nextInt(8), logU)
          }
        }
        val want = MapKernel.serialize(
          parts.map(MapKernel.checked(_, logU)).foldLeft(Map.empty[Long, Long])(MapKernel.sum),
          k, logU)
        val agg = new QDigestMergeAgg(k, logU)
        // two partial buffers, merged: the shape a shuffle gives
        val (l, r) = parts.splitAt(rnd.nextInt(parts.size + 1))
        val got = agg.finish(agg.merge(
          l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
        same(got, want, s"merge logU=$logU k=$k case $i")
        val direct = QDigest.serialize(
          parts.map(QDigest.pairs).foldLeft(QDigest.empty)(QDigest.sum), k, logU)
        same(direct, want, s"pairs sum logU=$logU k=$k case $i")
      }
    }
  }

  test("build: identical bytes, exact and capped, over several partition shapes") {
    cases(13L) { (rnd, logU, k) =>
      val caps = if (3 * k < 200) Seq(0, 3 * k + 1, 3 * k + 1 + rnd.nextInt(40)) else Seq(0)
      for (maxBuffer <- caps; i <- 0 until 8) {
        val u = 1L << logU
        val width = 1 + rnd.nextInt(300)
        val base = (rnd.nextLong() & Long.MaxValue) % u
        val vals = Seq.fill(rnd.nextInt(1500)) {
          // mostly in one stretch, some clamped below 0 or past U
          rnd.nextInt(50) match {
            case 0 => -1L - rnd.nextInt(5)
            case 1 => u + rnd.nextInt(5)
            case _ => base + rnd.nextInt(width)
          }
        }
        val shape = vals.grouped(math.max(1, vals.size / (1 + rnd.nextInt(4)))).toSeq
        val want = MapKernel.serialize(
          shape
            .map(_.foldLeft(Map.empty[Long, Long])((b, v) =>
              MapKernel.capped(MapKernel.add(b, v, logU), k, logU, maxBuffer)))
            .foldLeft(Map.empty[Long, Long])((a, b) =>
              MapKernel.capped(MapKernel.sum(a, b), k, logU, maxBuffer)),
          k, logU)
        val agg = new QDigestBuildAgg(k, logU, maxBuffer)
        val got = agg.finish(
          shape.map(_.foldLeft(agg.zero)(agg.reduce)).foldLeft(agg.zero)(agg.merge))
        same(got, want, s"build logU=$logU k=$k maxBuffer=$maxBuffer case $i")
      }
    }
  }

  test("corrupt and v1-format bytes fail with the same named errors in both kernels") {
    val good = MapKernel.serialize(randomCounts(new Random(15L), 17), 4096, 17)
    val v1 = {
      val bb = java.nio.ByteBuffer.allocate(16 + 16 * 2)
      bb.putLong(5L).putLong(2L).putLong(QDigest.U + 1).putLong(2L).putLong(QDigest.U + 9).putLong(3L)
      bb.array()
    }
    val bad = Seq(
      "truncated" -> good.take(good.length - 8),
      "node count" -> { val g = good.clone(); g(12) = 0x7f.toByte; g },
      "short" -> Array[Byte](1, 2, 3),
      "logU" -> { val g = good.clone(); g(11) = 63.toByte; g },
      "v1" -> v1)
    for ((what, bytes) <- bad) {
      val old = intercept[IllegalArgumentException](MapKernel.deserialize(bytes))
      for (read <- Seq[Array[Byte] => Any](QDigest.pairs, QDigest.mass, QDigest.quantile(_, 0.5))) {
        val e = intercept[IllegalArgumentException](read(bytes))
        assert(e.getMessage === old.getMessage, what)
      }
    }
  }

  test("a part from another universe fails by name in both kernels") {
    val rnd = new Random(14L)
    val part = MapKernel.serialize(randomCounts(rnd, 20), 16, 20)
    val agg = new QDigestMergeAgg(16, 17)
    val e = intercept[IllegalArgumentException](agg.reduce(agg.zero, part))
    assert(e.getMessage === "requirement failed: q-digest universe mismatch: " +
      "part has logU=20, merge expects 17")
    val old = intercept[IllegalArgumentException](MapKernel.checked(part, 17))
    assert(e.getMessage === old.getMessage)
  }
}
