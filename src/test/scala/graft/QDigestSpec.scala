package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.expr.QDigest

/** The q-digest quantile sketch behind q_agg_quantile_merge. Layers,
  * mirroring SketchMergeSpec's HLL structure plus the bounds the custom
  * implementation must itself prove (Spark's own sketches arrive
  * pre-proven; this one doesn't):
  *
  *  - EXACT below compression: with n ≤ k the threshold is 1 and every
  *    leaf survives, so the estimate IS percentile_disc.
  *  - BOUNDED under compression: on adversarial spiky data with a tiny
  *    k, the estimate's true rank stays within the documented
  *    LogU·(n/k+1) envelope, and the kept-node count within 3k.
  *  - DETERMINISTIC merge: digests summed in any order recompress to
  *    identical BYTES (key-wise sums commute; compression and
  *    serialization are canonical-order functions of the counts).
  *  - The parquet round trip changes nothing bit-for-bit, and the
  *    registry contract reads green on testdata.
  */
class QDigestSpec extends SparkSpec {

  private def buildBytes(vals: Seq[Long], k: Int): Array[Byte] = {
    val agg = new graft.expr.QDigestBuildAgg(k)
    agg.finish(vals.foldLeft(agg.zero)(agg.reduce))
  }

  /** Count of sample values ≤ x — the true rank the estimate is judged
    * against.
    */
  private def rankOf(vals: Seq[Long], x: Long): Long =
    vals.count(QDigest.clamp(_) <= x).toLong

  test("exact below compression: estimate == percentile_disc rank semantics") {
    // deterministic spread incl. repeats and a clamped outlier
    val vals = (1 to 999).map(i => ((i * 2654435761L) % 50000L).abs) :+ (QDigest.U + 5L)
    val sk = buildBytes(vals, k = 4096)
    val sorted = vals.map(QDigest.clamp).sorted
    for (q <- Seq(0.01, 0.25, 0.48, 0.5, 0.52, 0.75, 0.95, 0.99)) {
      val want = sorted(math.max(1, math.ceil(q * vals.size).toInt) - 1)
      assert(QDigest.quantile(sk, q) === want, s"q=$q")
    }
  }

  test("compression: rank error within LogU*(n/k+1), size within 3k, on spiky data") {
    val k = 32
    val n = 100000
    // adversarial shape: 30% of mass on one hot value, the rest spread
    val vals = (0 until n).map { i =>
      if (i % 10 < 3) 777L else ((i * 2654435761L) % 100000L).abs
    }
    val sk = buildBytes(vals, k)
    val bound = QDigest.LogU.toLong * (n / k + 1)
    for (q <- Seq(0.05, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = QDigest.quantile(sk, q)
      val r = rankOf(vals, est)
      val target = math.ceil(q * n).toLong
      // est's true rank must bracket the target within the bound: at
      // least target - bound values are ≤ est (not too low), and
      // removing est's leaf bucket drops below target + bound (not too
      // high — r counts the whole bucket, so compare its lower edge)
      val rBelow = rankOf(vals, est - 1)
      assert(r >= target - bound, s"q=$q est=$est rank=$r target=$target")
      assert(rBelow <= target + bound, s"q=$q est=$est rankBelow=$rBelow target=$target")
    }
    val nodes = QDigest.nodes(QDigest.pairs(sk))
    assert(nodes <= 3 * k, s"kept $nodes nodes > 3k=${3 * k}")
  }

  test("merge order cannot change the bytes") {
    val k = 64
    val chunks = (0 until 7).map { c =>
      (0 until 3000).map(i => ((i * 31L + c * 977L) * 2654435761L % 90000L).abs)
    }
    val parts = chunks.map(buildBytes(_, k))
    def mergeAll(ps: Seq[Array[Byte]]): Array[Byte] =
      QDigest.serialize(
        ps.map(QDigest.pairs).foldLeft(QDigest.empty)(QDigest.sum),
        k)
    val a = mergeAll(parts)
    val b = mergeAll(parts.reverse)
    val c = mergeAll(Seq(mergeAll(parts.take(3)), mergeAll(parts.drop(3))).map(identity))
    assert(java.util.Arrays.equals(a, b))
    // NOTE: c re-compresses sub-merges before the final merge, so c is a
    // DIFFERENT (coarser) digest than a — only order-permutations of the
    // same parts must be bit-equal; tree-shaped re-compression keeps the
    // bound but not the bytes. Assert the bound instead of equality:
    val all = chunks.flatten
    val est = QDigest.quantile(c, 0.5)
    val bound = QDigest.LogU.toLong * (2L * all.size / k + parts.size + 1)
    val r = rankOf(all, est)
    assert(math.abs(r - math.ceil(0.5 * all.size).toLong) <= bound + all.count(_ == est))
  }

  test("persisted day sketches union bit-identically to in-memory; registry contract green") {
    import spark.implicits._
    val ev = T(spark, sf, "events")
      .select(
        to_date($"ts").as("day"),
        $"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v100"))
    val build = udaf(new graft.expr.QDigestBuildAgg(4096), org.apache.spark.sql.Encoders.scalaLong)
    val union = udaf(new graft.expr.QDigestMergeAgg(4096), org.apache.spark.sql.Encoders.BINARY)
    val daily = ev.groupBy($"day", $"event_type").agg(build($"v100").as("sk"))
    val dir = Files.createTempDirectory("graft_qdigest_state").toString
    daily.write.mode("overwrite").parquet(dir)
    def merged(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Byte]] = df
      .groupBy($"event_type").agg(union($"sk").as("m"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("m").toSeq).toMap
    assert(merged(spark.read.parquet(dir)) === merged(daily))

    val out = SparkEntry.queries("q_agg_quantile_merge")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("p50_ok"), r.toString)
      assert(r.getAs[Boolean]("p95_ok"), r.toString)
      assert(r.getAs[Boolean]("whole_ok"), r.toString)
    }
  }

  test("corrupt persisted state fails as a NAMED error, not a buffer underflow") {
    val good = buildBytes((1L to 100L).toSeq, 64)
    // truncated payload: header intact, nodes cut short
    val truncated = good.take(good.length - 8)
    val e1 = intercept[IllegalArgumentException](QDigest.quantile(truncated, 0.5))
    assert(e1.getMessage.contains("corrupt q-digest"), e1.getMessage)
    // garbage node count in the header
    val garbage = good.clone()
    garbage(12) = 0x7f.toByte // blow up the cnt field
    val e2 = intercept[IllegalArgumentException](QDigest.quantile(garbage, 0.5))
    assert(e2.getMessage.contains("corrupt q-digest"), e2.getMessage)
    // short-but-nonempty garbage must NOT silently read as empty
    val e3 = intercept[IllegalArgumentException](
      QDigest.quantile(Array[Byte](1, 2, 3), 0.5))
    assert(e3.getMessage.contains("corrupt q-digest"), e3.getMessage)
    // null and empty stay graceful (an absent sketch is a real state)
    assert(QDigest.quantile(null, 0.5) === -1L)
    assert(QDigest.quantile(Array.emptyByteArray, 0.5) === -1L)
  }

  test("served rollup == in-session merge path; build commits once") {
    import spark.implicits._
    import graft.ops.RelationalOps
    val F = graft.ops.StreamOps.RollupFamily
    val dir = graft.index.GenLog.datasetRoot(spark, sf) + "/rollup"
    val events = T(spark, sf, "events")
    val runs0 = graft.index.GenLog.buildsRun.get()
    F.buildOnce(spark, dir)(Seq(events))
    val built = graft.index.GenLog.buildsRun.get() - runs0
    F.buildOnce(spark, dir)(Seq(events)) // second call must skip
    assert(graft.index.GenLog.buildsRun.get() - runs0 === built,
      "second RollupFamily.buildOnce re-built instead of skipping")

    // serve-from-state ≡ the same union+estimate over the in-memory
    // daily frame — the rollup's maintained state IS the whole input
    val union = udaf(new graft.expr.QDigestMergeAgg(4096),
      org.apache.spark.sql.Encoders.BINARY)
    val est = udf((sk: Array[Byte], q: Double) => graft.expr.QDigest.quantile(sk, q))
    def report(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), union($"sk").as("m"))
      .select($"event_type", $"n_days",
        est($"m", lit(0.5)).as("p50"), est($"m", lit(0.95)).as("p95"))
      .collect().map(_.toString).sorted.toSeq
    val fromState = RelationalOps.serveRollup(spark, F.roots(spark, dir))
      .select($"event_type", $"n_days",
        $"p50_cents".as("p50"), $"p95_cents".as("p95"))
      .collect().map(_.toString).sorted.toSeq
    assert(fromState === report(RelationalOps.quantileDaily(spark, sf)))

    val out = SparkEntry.queries("q_agg_quantile_served")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("p50_ok"), r.toString)
      assert(r.getAs[Boolean]("p95_ok"), r.toString)
    }
  }
}
