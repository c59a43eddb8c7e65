package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** A DETERMINISTIC q-digest (Shrivastava et al., SenSys'04 — public
  * algorithm): the mergeable quantile sketch Spark lacks as persistable
  * state. `hll_sketch_agg` gives HLL state a binary-column life
  * (build per day → persist → `hll_union_agg` across days), but
  * `percentile_approx`'s KLL-style state is not exposed — so quantile
  * rollups either recompute from raw rows or lose mergeability. This
  * module is the quantile twin: per-day sketches persist as a parquet
  * BINARY column and re-aggregate associatively, with a PROVABLE rank
  * error bound and — unlike KLL — no randomness anywhere, so every
  * estimate is a pure function of the input multiset (the repo's
  * oracle-checkability contract).
  *
  * Structure: counts over the complete binary tree on the integer
  * universe [0, U), U = 2^logU (node id 1 = root; leaf for value v has
  * id U + v). `logU` is a per-column-domain parameter (default 17 —
  * the events table's cents domain): the build buffers EXACT leaf
  * counts, bounded by the universe, so narrow domains get the full
  * determinism contract for free. At a WIDE domain (logU up to 62) the
  * exact buffer no longer fits, so the build aggregator takes an
  * optional in-reduce re-compression cap: when the buffer exceeds it,
  * the partial compresses early. That trades the bit-level determinism
  * contract — early compression points depend on row partitioning, so
  * two runs may keep different node sets (each still within the rank
  * bound) — which is why the registry queries run cap-less at logU=17
  * and the wide form is an explicitly opted-into scale posture
  * (QDigestPropertySpec exercises both).
  *
  * Compression with threshold ceil(n/k) keeps ≤ 3k nodes and introduces
  * ≤ logU·n/k rank error (each leaf's mass can be absorbed upward at
  * most logU times, each absorption bounded by the threshold —
  * QDigestSpec asserts the bound on adversarial spiky data). Merging
  * sums counts key-wise — commutative and associative, so merge order
  * cannot change the final recompressed bytes (QDigestSpec pins
  * bit-equality across orders).
  *
  * Every kernel runs on the wire format's body, never on a decoded map:
  * a digest in memory is its PAIRS, one `Array[Long]` laid out
  * `[n, id1, c1, id2, c2, …]` with ids strictly ascending — total mass
  * n first, then the kept (id, count) nodes exactly as the bytes carry
  * them. Merge is a linear merge-sum of two such arrays, compression one
  * pass per tree level, and the quantile walk and the mass read the
  * pairs directly. The bytes are the same bytes the earlier map-based
  * kernel wrote (same compression rule, visiting order and kept nodes;
  * QDigestKernelSpec pins it against that kernel), so persisted state
  * reads unchanged. The universe's logU rides in the byte header, so
  * merged bytes are self-describing — no side channel for n or the
  * domain.
  */
object QDigest {

  /** Default universe: value cents in [0, 2^17) — covers the events
    * table's value domain (≤ $1310.71) with headroom; out-of-range
    * values clamp into the extreme buckets (a production column
    * parameterizes logU per domain; the error bound scales as logU/k).
    */
  val LogU = 17
  val U: Long = 1L << LogU

  // Default-domain overloads (not default params: specs and folds use
  // these methods as function values, and eta-expansion can't fill a
  // default argument).
  def clamp(v: Long): Long = clamp(v, LogU)
  def serialize(p: Array[Long], k: Int): Array[Byte] = serialize(p, k, LogU)

  def clamp(v: Long, logU: Int): Long =
    math.max(0L, math.min((1L << logU) - 1L, v))

  /** The pairs of the empty digest: no mass, no nodes. */
  def empty: Array[Long] = Array(0L)

  /** Kept node count of a pairs array. */
  def nodes(p: Array[Long]): Int = (p.length - 1) / 2

  private def levelOf(id: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(id)

  /** Key-wise sum of two pairs arrays — the merge of two buffers (and of
    * two digests): one linear merge over the ascending ids, a node present
    * on both sides adds its counts.
    */
  def sum(a: Array[Long], b: Array[Long]): Array[Long] = {
    val ma = nodes(a)
    val mb = nodes(b)
    var i = 0
    var j = 0
    var u = ma + mb
    while (i < ma && j < mb) {
      val x = a(1 + 2 * i)
      val y = b(1 + 2 * j)
      if (x <= y) i += 1
      if (y <= x) j += 1
      if (x == y) u -= 1
    }
    val r = new Array[Long](1 + 2 * u)
    r(0) = a(0) + b(0)
    i = 0
    j = 0
    var o = 1
    while (i < ma && j < mb) {
      val x = a(1 + 2 * i)
      val y = b(1 + 2 * j)
      if (x < y) { r(o) = x; r(o + 1) = a(2 + 2 * i); i += 1 }
      else if (y < x) { r(o) = y; r(o + 1) = b(2 + 2 * j); j += 1 }
      else { r(o) = x; r(o + 1) = a(2 + 2 * i) + b(2 + 2 * j); i += 1; j += 1 }
      o += 2
    }
    System.arraycopy(a, 1 + 2 * i, r, o, 2 * (ma - i))
    System.arraycopy(b, 1 + 2 * j, r, o + 2 * (ma - i), 2 * (mb - j))
    r
  }

  /** Deterministic bottom-up q-digest compression: for each sibling pair
    * (level logU up to 1, ids ascending — a fixed order, so the result
    * is a pure function of the counts), if the pair plus its parent hold
    * less than the threshold ceil(n/k), their mass moves to the parent.
    * Root mass never moves. Takes and returns pairs `[n, id, count, …]`,
    * ids ascending, counts positive.
    *
    * One pass per level: a pair's decision reads only the pair and its
    * parent, and each parent has exactly one child pair, so the level's
    * nodes (the input's plus the parents the level below created) and
    * the input's parent-level nodes walk together, descending, into the
    * next level's nodes; kept nodes fill the result from its end.
    */
  def compress(p: Array[Long], k: Int, logU: Int): Array[Long] = {
    val n = p(0)
    val t = if (k <= 0) 1L else (n + k - 1) / k // ceil(n/k), ≥ 1 when n ≥ 1
    val m = nodes(p)
    // start(l): index of the first input node at level l or deeper
    val start = new Array[Int](logU + 2)
    var j = 0
    var l = 0
    while (l <= logU) {
      start(l) = j
      while (j < m && levelOf(p(1 + 2 * j)) == l) j += 1
      l += 1
    }
    require(j == m, s"q-digest node ${p(1 + 2 * j)} outside the logU=$logU tree")
    start(logU + 1) = m
    var cur = new Array[Long](2 * m) // this level's nodes, ids descending
    var nxt = new Array[Long](2 * m) // the next level's, built descending
    val out = new Array[Long](1 + 2 * m)
    out(0) = n
    var o = out.length
    var cl = 0
    j = m - 1
    while (j >= start(logU)) {
      cur(2 * cl) = p(1 + 2 * j); cur(2 * cl + 1) = p(2 + 2 * j); cl += 1
      j -= 1
    }
    l = logU
    while (l >= 1) {
      val pLo = start(l - 1)
      var pi = start(l) - 1 // input parent-level nodes, walked descending
      var nl = 0
      def put(id: Long, c: Long): Unit = { nxt(2 * nl) = id; nxt(2 * nl + 1) = c; nl += 1 }
      // input parents above `id` carry over unchanged
      def passAbove(id: Long): Unit =
        while (pi >= pLo && p(1 + 2 * pi) > id) { put(p(1 + 2 * pi), p(2 + 2 * pi)); pi -= 1 }
      var ci = 0
      while (ci < cl) {
        val parent = cur(2 * ci) >> 1
        // the pair is one visit: an odd node's even sibling, when present,
        // is the next node down, and is skipped with it (visiting it again
        // would add its mass to the parent a second time)
        val both = ci + 1 < cl && (cur(2 * ci + 2) >> 1) == parent
        val pairSum = cur(2 * ci + 1) + (if (both) cur(2 * ci + 3) else 0L)
        passAbove(parent)
        var pc = 0L // the parent's count, 0 when absent
        if (pi >= pLo && p(1 + 2 * pi) == parent) { pc = p(2 + 2 * pi); pi -= 1 }
        if (pairSum + pc < t) put(parent, pc + pairSum)
        else {
          o -= 2; out(o) = cur(2 * ci); out(o + 1) = cur(2 * ci + 1)
          if (both) { o -= 2; out(o) = cur(2 * ci + 2); out(o + 1) = cur(2 * ci + 3) }
          if (pc != 0L) put(parent, pc)
        }
        ci += (if (both) 2 else 1)
      }
      passAbove(0L)
      val sw = cur; cur = nxt; nxt = sw
      cl = nl
      l -= 1
    }
    var ci = 0
    while (ci < cl) { o -= 2; out(o) = cur(2 * ci); out(o + 1) = cur(2 * ci + 1); ci += 1 }
    if (o == 1) out
    else {
      val r = new Array[Long](1 + out.length - o)
      r(0) = n
      System.arraycopy(out, o, r, 1, out.length - o)
      r
    }
  }

  /** Wire format: n (8B), logU (4B), node count (4B), then the compressed
    * pairs' (id, count) longs — a canonical rendering, so equal digests
    * are equal BYTES (what lets specs pin merge-order invariance at the
    * binary level), and self-describing (estimation needs no out-of-band
    * universe).
    */
  def serialize(p: Array[Long], k: Int, logU: Int): Array[Byte] = {
    val c = compress(p, k, logU)
    val cnt = nodes(c)
    val bb = ByteBuffer.allocate(16 + 16 * cnt)
    bb.putLong(c(0))
    bb.putInt(logU)
    bb.putInt(cnt)
    bb.asLongBuffer().put(c, 1, 2 * cnt)
    bb.array()
  }

  /** The header check every read starts with: the part's logU, or 0 for a
    * null or empty part (an absent sketch is a real state). Validation is
    * strict because persisted sketch state can arrive truncated or
    * corrupt, and a garbage node count must fail as a NAMED corruption,
    * not a BufferUnderflowException deep in an executor (or a silent
    * empty digest).
    */
  private[expr] def universe(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length == 0) return 0
    require(
      bytes.length >= 16,
      s"corrupt q-digest: ${bytes.length} bytes, header needs 16")
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong(0)
    val logU = bb.getInt(8)
    val cnt = bb.getInt(12)
    // Format-skew diagnosis, not a version byte: the v1 wire format
    // (pre-logU) was n(8B), count(8B LONG), pairs — its count's high
    // word lands where v2 keeps logU, so v1 state reads as logU=0.
    // Recognize that exact shape (length arithmetic checks out against
    // the count's LOW word) and fail as a VERSION mismatch with the
    // recovery step, instead of misreporting durable-but-stale state as
    // corruption. A version byte would break every v2 digest already
    // persisted the same way v2 broke v1; the diagnosis stays back- and
    // forward-compatible with both.
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
    logU
  }

  /** The validated pairs view of digest bytes ([[empty]] for a null or
    * empty part). The kernels rely on ascending ids inside the universe's
    * tree and positive counts — every serializer writes exactly that, so
    * anything else is corruption and fails by name.
    */
  def pairs(bytes: Array[Byte]): Array[Long] = {
    val logU = universe(bytes)
    if (logU == 0) empty else body(bytes, logU)
  }

  /** [[pairs]] of bytes whose header [[universe]] already checked. */
  private[expr] def body(bytes: Array[Byte], logU: Int): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val p = new Array[Long](1 + 2 * bb.getInt(12))
    p(0) = bb.getLong(0)
    bb.position(16)
    bb.asLongBuffer().get(p, 1, p.length - 1)
    var prev = 0L
    var i = 1
    while (i < p.length) {
      val id = p(i)
      require(
        id > prev && levelOf(id) <= logU && p(i + 1) > 0L,
        s"corrupt q-digest: node ($id, ${p(i + 1)}) after id $prev in a logU=$logU digest")
      prev = id
      i += 2
    }
    p
  }

  /** Total mass n, read from the validated header (0 for an absent part). */
  def mass(bytes: Array[Byte]): Long =
    if (universe(bytes) == 0) 0L else ByteBuffer.wrap(bytes).getLong(0)

  /** Rank-q estimate: nodes in postorder of value range (hi ascending,
    * descendants before ancestors), cumulative count to the first node
    * reaching ceil(q·n) — its hi endpoint is the estimate, off by at
    * most the compression's rank error. Returns the clamped-universe
    * value (cents at the default domain), -1 on an empty digest.
    *
    * The pairs hold one ascending-hi run per tree level, so the walk is
    * a merge of those runs: each step takes the smallest hi across the
    * level heads and adds every head ending there.
    */
  def quantile(bytes: Array[Byte], q: Double): Long = {
    val logU = universe(bytes)
    if (logU == 0) return -1L
    val p = body(bytes, logU)
    val n = p(0)
    if (n <= 0L) return -1L
    val m = nodes(p)
    require(m > 0, s"corrupt q-digest: mass $n with no nodes")
    val u = 1L << logU
    val target = math.max(1L, math.ceil(q * n).toLong)
    // per non-empty level: its next node and the end of its run
    val head = new Array[Int](logU + 1)
    val end = new Array[Int](logU + 1)
    val span = new Array[Int](logU + 1)
    var runs = 0
    var j = 0
    while (j < m) {
      val lvl = levelOf(p(1 + 2 * j))
      head(runs) = j
      span(runs) = logU - lvl
      while (j < m && levelOf(p(1 + 2 * j)) == lvl) j += 1
      end(runs) = j
      runs += 1
    }
    def hi(r: Int): Long = {
      val s = span(r)
      (p(1 + 2 * head(r)) << s) - u + (1L << s) - 1L
    }
    var cum = 0L
    var last = -1L
    while (true) {
      var h = Long.MaxValue
      var r = 0
      while (r < runs) {
        if (head(r) < end(r)) { val x = hi(r); if (x < h) h = x }
        r += 1
      }
      if (h == Long.MaxValue) return last
      r = 0
      while (r < runs) {
        if (head(r) < end(r) && hi(r) == h) { cum += p(2 + 2 * head(r)); head(r) += 1 }
        r += 1
      }
      if (cum >= target) return h
      last = h
    }
    last
  }
}

/** Build aggregator: value cents in, canonical digest bytes out. With
  * `maxBuffer = 0` (the registry setting) the buffer holds EXACT leaf
  * counts (universe-bounded), so the finished digest is independent of
  * row order and partitioning. With `maxBuffer > 0` (the wide-domain
  * posture — logU beyond what an exact buffer can hold) a partial whose
  * entries (distinct keys plus the mass) exceed the cap compresses early:
  * memory stays O(maxBuffer + 3k) per partial, the rank bound still holds
  * (early compressions absorb strictly less mass than the final threshold
  * allows), but the kept node SET now depends on where partition
  * boundaries fell — the documented determinism trade, made code.
  *
  * The buffer is one `Array[Long]`, an open-addressed table:
  * `[n, keys, (key, count) slots…]`, key 0 marking a free slot (node ids
  * start at 1), a power-of-two slot count at most half full. A row costs
  * amortized O(1) (one probe, a doubling now and then), and the distinct
  * key count is always known, so the cap fires on the same row as it
  * would on any exact buffer. Finish sorts the keys once into pairs.
  */
class QDigestBuildAgg(k: Int, logU: Int = QDigest.LogU, maxBuffer: Int = 0)
    extends Aggregator[Long, Array[Long], Array[Byte]] {
  import QDigestBuildAgg._
  // A cap at or below the 3k compression floor can never shrink the
  // buffer under it, so every subsequent reduce would re-run an
  // O(buffer) compression per input row — quadratic build cost instead
  // of the documented O(maxBuffer + 3k) posture.
  require(
    maxBuffer == 0 || maxBuffer > 3 * k,
    s"maxBuffer=$maxBuffer must exceed the 3k=${3 * k} compression floor (or be 0)")
  private def capped(b: Array[Long]): Array[Long] =
    if (maxBuffer > 0 && b(1) + 1 > maxBuffer) table(QDigest.compress(pairsOf(b), k, logU))
    else b
  override def zero: Array[Long] = alloc(16)
  override def reduce(b: Array[Long], v: Long): Array[Long] = {
    val t = add(b, (1L << logU) + QDigest.clamp(v, logU), 1L)
    t(0) += 1L
    capped(t)
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val (big, small) = if (a(1) >= b(1)) (a, b) else (b, a)
    val t = addAll(big, small, 2)
    t(0) = a(0) + b(0)
    capped(t)
  }
  override def finish(b: Array[Long]): Array[Byte] =
    QDigest.serialize(pairsOf(b), k, logU)
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

private object QDigestBuildAgg {

  /** An empty table with `slots` (a power of two) free slots. */
  def alloc(slots: Int): Array[Long] = new Array[Long](2 + 2 * slots)

  private def slot(key: Long, slots: Int): Int =
    ((key * 0x9E3779B97F4A7C15L) >>> (64 - Integer.numberOfTrailingZeros(slots))).toInt

  /** Adds `c` to `key`'s count; returns the table, grown when the new key
    * would fill it past half.
    */
  def add(b: Array[Long], key: Long, c: Long): Array[Long] = {
    var t = b
    if ((t(1) + 1) * 4 > t.length - 2) t = grow(t)
    val slots = (t.length - 2) >> 1
    var i = slot(key, slots)
    while (true) {
      val at = 2 + 2 * i
      if (t(at) == key) { t(at + 1) += c; return t }
      if (t(at) == 0L) { t(at) = key; t(at + 1) = c; t(1) += 1L; return t }
      i = (i + 1) & (slots - 1)
    }
    t
  }

  /** Adds the (key, count) entries of `src` from index `from` on, stride
    * 2, free (0) keys skipped — a table's slots or a pairs array's nodes.
    */
  def addAll(b: Array[Long], src: Array[Long], from: Int): Array[Long] = {
    var t = b
    var i = from
    while (i < src.length) {
      if (src(i) != 0L) t = add(t, src(i), src(i + 1))
      i += 2
    }
    t
  }

  private def grow(b: Array[Long]): Array[Long] = {
    val t = alloc(b.length - 2)
    t(0) = b(0)
    addAll(t, b, 2)
  }

  /** The table's pairs `[n, id, count, …]`, ids ascending. */
  def pairsOf(b: Array[Long]): Array[Long] = {
    val keys = new Array[Long](b(1).toInt)
    var j = 0
    var i = 2
    while (i < b.length) {
      if (b(i) != 0L) { keys(j) = b(i); j += 1 }
      i += 2
    }
    java.util.Arrays.sort(keys)
    val p = new Array[Long](1 + 2 * keys.length)
    p(0) = b(0)
    j = 0
    while (j < keys.length) {
      p(1 + 2 * j) = keys(j)
      p(2 + 2 * j) = count(b, keys(j))
      j += 1
    }
    p
  }

  private def count(b: Array[Long], key: Long): Long = {
    val slots = (b.length - 2) >> 1
    var i = slot(key, slots)
    while (b(2 + 2 * i) != key) i = (i + 1) & (slots - 1)
    b(3 + 2 * i)
  }

  /** A table holding pairs `p`. */
  def table(p: Array[Long]): Array[Long] = {
    val t = alloc(16)
    t(0) = p(0)
    addAll(t, p, 1)
  }
}

/** Union aggregator over persisted digests: a linear merge-sum of each
  * part's pairs into a pairs buffer (commutative, associative — merge
  * order cannot matter), one deterministic recompress in finish. The
  * input digests' kept nodes sum key-wise, so the merged rank error is at
  * most the sum of the parts' plus one final compression's —
  * ≤ 2·logU·n/k total for day-built parts. The universe rides in each
  * part's header; mixing universes in one group is a caller error
  * surfaced here.
  */
class QDigestMergeAgg(k: Int, logU: Int = QDigest.LogU)
    extends Aggregator[Array[Byte], Array[Long], Array[Byte]] {
  override def zero: Array[Long] = QDigest.empty
  override def reduce(b: Array[Long], sk: Array[Byte]): Array[Long] = {
    val lu = QDigest.universe(sk)
    if (lu == 0) return b
    require(lu == logU, s"q-digest universe mismatch: part has logU=$lu, merge expects $logU")
    QDigest.sum(b, QDigest.body(sk, lu))
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = QDigest.sum(a, b)
  override def finish(b: Array[Long]): Array[Byte] = QDigest.serialize(b, k, logU)
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
