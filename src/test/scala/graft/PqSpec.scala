package graft

import graft.ops.{SimilarityOps => S, Vec}
import org.apache.spark.sql.functions._

/** Contracts for the product-quantization family (SURVEY §2 q_sim_pq /
  * q_sim_pq_trained / q_sim_ivfpq / q_sim_pq_served). The synthetic
  * embeddings are isotropic random — exact top-10 cosines sit in a band
  * quantization error can reorder, so a top-k recall floor would pin noise.
  * What a correct PQ MUST satisfy regardless of data geometry:
  * self-reconstruction (a vector that IS a codebook entry encodes to
  * itself and its ADC score equals the exact cosine), score fidelity
  * (ADC correlates with exact cosine — a broken quantizer decorrelates to
  * ~0), Lloyd's error monotonicity, codes-in-range, and the compression
  * and plan-shape guarantees that are the operator's point at 100 TB.
  */
class PqSpec extends SparkSpec {

  import S.{PqK, PqM}

  private def e = {
    import spark.implicits._
    T(spark, sf, "embeddings").select($"vec_id", $"embedding")
  }

  private def encoded = {
    val cb = S.pqCodebookRow(S.pqStandinCents(e))
    S.pqEncode(e, cb, Nil)
  }

  test("codes are total and in range: PqM codes per row, each in [0, PqK)") {
    import spark.implicits._
    val n = e.count()
    val bad = (0 until PqM)
      .map(m =>
        encoded
          .filter(
            col(s"e$m").isNull || col(s"e$m").getField("c_id") < 0 ||
              col(s"e$m").getField("c_id") >= PqK)
          .count())
      .sum
    assert(bad == 0, s"out-of-range codes")
    assert(encoded.count() == n)
  }

  test("self-reconstruction: seed vectors encode to their own codes and " +
    "their ADC score is the exact cosine") {
    import spark.implicits._
    // argmin_c (cn2 - 2<x,c>) at c = x is -|x|^2; any other c beating it
    // would need |x - c|^2 < 0 — so a codebook member must pick itself
    val seedCodes = encoded
      .filter($"vec_id" < PqK)
      .select(
        $"vec_id" +: (0 until PqM).map(m => col(s"e$m").getField("c_id")): _*)
      .collect()
    assert(seedCodes.length == PqK)
    seedCodes.foreach { r =>
      (1 to PqM).foreach(m =>
        assert(r.getLong(m) == r.getLong(0), s"seed ${r.getLong(0)} code $m"))
    }
    // and the reconstruction is exact, so ADC == exact cosine (~1e-12)
    val cb = S.pqCodebookRow(S.pqStandinCents(e))
    val adc = S
      .pqAdcTopK(
        S.pqEncode(e.filter($"vec_id".between(1, PqK - 1)), cb, Nil),
        S.pqProbeTab(e, cb),
        Nil)
      .select($"vec_id", $"cos")
      .as[(Long, Double)]
      .collect()
      .toMap
    val withN2 =
      e.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val exact = withN2
      .filter($"vec_id".between(1, PqK - 1))
      .crossJoin(broadcast(withN2
        .filter($"vec_id" === 0)
        .select($"embedding".as("p"), $"n2".as("pn2"))))
      .select(
        $"vec_id",
        X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .as[(Long, Double)]
      .collect()
      .toMap
    adc.foreach { case (id, c) =>
      assert(math.abs(c - exact(id)) <= 1e-6 + 1e-12, s"seed $id: $c vs ${exact(id)}")
    }
  }

  test("ADC score fidelity: correlation with exact cosine clears the " +
    "broken-quantizer floor") {
    import spark.implicits._
    val cb = S.pqCodebookRow(S.pqStandinCents(e))
    val qtab = S.pqProbeTab(e, cb)
    val dotSum = (0 until PqM)
      .map(m =>
        element_at(
          element_at($"qd", m + 1),
          (col(s"e$m").getField("c_id") + lit(1L)).cast("int")))
      .reduce(_ + _)
    val rn2 = (0 until PqM).map(m => col(s"e$m").getField("cn2")).reduce(_ + _)
    val adc = S
      .pqEncode(e, cb, Nil)
      .crossJoin(broadcast(qtab))
      .select($"vec_id", (dotSum / (sqrt(rn2) * sqrt($"pn2"))).as("adc"))
    val withN2 =
      e.select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val exact = withN2
      .crossJoin(broadcast(withN2
        .filter($"vec_id" === 0)
        .select($"embedding".as("p"), $"n2".as("pn2"))))
      .select(
        $"vec_id",
        Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2").as("cos"))
    val r = adc
      .join(exact, "vec_id")
      .filter($"vec_id" =!= 0)
      .agg(corr($"adc", $"cos"))
      .head()
      .getDouble(0)
    // measured 0.54-0.62 across sf0.001/sf0.01/sf0.1; a broken table or
    // lookup off-by-one decorrelates to ~0
    assert(r >= 0.4, s"ADC/exact correlation $r < 0.4")
  }

  test("per-subspace Lloyd is partition-order-free and reduces " +
    "quantization error over the seed codebook") {
    import spark.implicits._
    val xs = e.select($"vec_id", slice($"embedding", 1, 16).as("x"))
    val a = S.trainSubCodebook(xs, PqK, 3)
    val b = S.trainSubCodebook(xs.repartition(7), PqK, 3)
    assert(a == b, "training depends on partitioning")
    assert(a.map(_._2) != S.trainSubCodebook(xs, PqK, 0).map(_._2),
      "Lloyd iterations were a no-op")
    // mean shifted quantization error (cn2 - 2<x,c>; the |x|^2 shift is
    // codebook-independent) must not increase — Lloyd monotonicity
    def meanD2(cents: org.apache.spark.sql.DataFrame): Double =
      S.pqEncode(e, S.pqCodebookRow(cents), Nil)
        .select(
          ((0 until PqM).map(m => col(s"e$m").getField("d2")).reduce(_ + _) /
            lit(PqM.toDouble)).as("d2"))
        .agg(avg($"d2"))
        .head()
        .getDouble(0)
    val trained = meanD2(S.pqCentsFrame(spark, S.pqTrainedCents(spark, sf)))
    val standin = meanD2(S.pqStandinCents(e))
    assert(trained <= standin + 1e-9, s"trained $trained > stand-in $standin")
  }

  test("fused multi-subspace training ≡ the sequential per-subspace loop, " +
    "bit-for-bit") {
    // pqTrainedCents trains all PqM sub-codebooks in ONE trainLloyd run
    // (3 corpus scans); this pins that fusing changed NOTHING numerically:
    // each subspace's codebook equals an independent single-group run on
    // that subspace's sliced frame (same seeds, same L2 argmin, same
    // exact-decimal means)
    import spark.implicits._
    val fused = S.pqTrainedCents(spark, sf).groupBy(_._1)
    (0 until PqM).foreach { m =>
      val seq = S.trainSubCodebook(
        e.select($"vec_id", slice($"embedding", m * 16 + 1, 16).as("x")),
        PqK,
        iters = 3)
      val f = fused(m).map { case (_, id, v) => (id, v) }.sortBy(_._1)
      assert(f == seq.sortBy(_._1), s"subspace $m diverged")
    }
  }

  test("training touches the corpus ≤5 file-scan stages: one sample count, " +
    "one seed collect, one per Lloyd iteration — not PqM per iteration") {
    // the round-14 sequential loop scanned the embedding store 16 times
    // (4 subspaces × (1 seed + 3 iterations)); the fused kernel's budget
    // is 1 (trainSample count) + 1 (seeds) + 3 (one pass per iteration)
    // onStageSubmitted, not onJobStart: under AQE every shuffle-stage
    // materialization job RE-LISTS its (skipped) upstream scan stage with
    // a fresh stage id, so counting job-start stageInfos triples the
    // count; a skipped stage is never SUBMITTED, so submission events
    // count exactly the scans that execute
    val group = s"pq-scan-budget-${System.nanoTime()}"
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.properties != null &&
          group == e.properties.getProperty("spark.jobGroup.id") &&
          e.stageInfo.rddInfos.exists(_.name.contains("FileScan")))
          scanStages.add(e.stageInfo.stageId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "pq scan budget")
      try S.pqTrainedCents(spark, sf)
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graftaccess.ListenerDrain.drain(spark.sparkContext, 60000)
      val n = {
        import scala.jdk.CollectionConverters._
        scanStages.iterator().asScala.size
      }
      assert(n > 0, "listener captured nothing — scoping broke")
      assert(n <= 5, s"file-scan stages across PQ training: $n (budget 5)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("trainSample: pure-function cap — identity below it, above it a " +
    "deterministic seed-preserving slice that still trains a better " +
    "codebook than the seeds") {
    import spark.implicits._
    // below the cap the input passes through untouched (all current SFs)
    assert(S.trainSample(e, PqK).count() == e.count())
    // force the cap with a tiny perCell: membership must be a pure
    // function of vec_id (partitioning-invariant), keep every seed row,
    // and land near the cap
    val cap = 4L * PqK
    val a = S.trainSample(e, PqK, perCell = 4).select($"vec_id")
      .as[Long].collect().sorted.toSeq
    val b = S.trainSample(e.repartition(7), PqK, perCell = 4).select($"vec_id")
      .as[Long].collect().sorted.toSeq
    assert(a == b, "sample membership depends on partitioning")
    assert((0L until PqK.toLong).forall(a.contains), "a seed row was dropped")
    assert(a.size < e.count() && a.size <= 3 * cap,
      s"sample ${a.size} of ${e.count()} vs cap $cap")
    // and Lloyd on the capped sample still beats the seed codebook on the
    // FULL corpus (the recall-floor analog that isotropic noise can't
    // fake): mean shifted quantization error must not increase
    val sliced = S.trainSample(e, PqK, perCell = 4).select(
      lit(0).as("grp"), $"vec_id", slice($"embedding", 1, 16).as("x"))
    val trained = S.trainLloyd(sliced, PqK, 3, groups = 1, cosine = false)(0)
    def err(cb: Seq[(Long, Seq[Float])]): Double = {
      val cents = cb.toDF("c_id", "c")
        .select(lit(0).as("m"), $"c_id", $"c", Vec.norm2($"c").as("cn2"))
      e.select($"vec_id", slice($"embedding", 1, 16).as("embedding"))
        .crossJoin(broadcast(S.pqCodebookRow(cents)))
        .select(S.pqEncCol(0).getField("d2").as("d2"))
        .agg(avg($"d2")).head().getDouble(0)
    }
    val seeds = S.trainLloyd(sliced, PqK, 0, groups = 1, cosine = false)(0)
    assert(err(trained) <= err(seeds) + 1e-9,
      s"sample-trained ${err(trained)} > seeds ${err(seeds)}")
  }

  test("the persisted codes table is the compressed scan tier") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    S.writePqIndex(spark, sf, dir)
    def bytes(p: java.io.File): Long =
      if (p.isDirectory) p.listFiles().map(bytes).sum
      else if (p.getName.endsWith(".parquet")) p.length()
      else 0L
    val codes = bytes(new java.io.File(s"${S.pqFamily(dir).roots(spark, dir).head}/codes"))
    val raw = bytes(new java.io.File(s"$sf/embeddings.parquet").getAbsoluteFile)
    assert(codes > 0 && raw > 0)
    // 4 small ints vs 64 floats + label: parquet overhead included, the
    // codes tier must stay far under the raw tier (64x in payload terms)
    assert(codes * 8 <= raw, s"codes $codes bytes vs raw $raw bytes")
    // and the serve path returns exactly the registry rows
    val reg = S.simPq(spark, sf).collect().toSeq
    val srv = S.simPqServed(spark, sf).collect().toSeq
    assert(srv == reg, s"served differs:\n$srv\nvs\n$reg")
  }

  test("incremental codes: the batch generation is O(batch) and " +
    "merge-on-read serves the monolithic answer") {
    import spark.implicits._
    val incr =
      SparkEntry.queries("q_sim_pq_incr")(spark, sf).collect().toSeq
    val mono = S.simPq(spark, sf).collect().toSeq
    assert(incr == mono, s"merge-on-read diverged:\n$incr\nvs\n$mono")
    val root = s"${graft.index.GenLog.datasetRoot(spark, sf)}/pq_incr"
    val gen1 = spark.read.parquet(s"$root/v1/gen/codes").count()
    val n = e.count()
    assert(gen1 > 0 && gen1 <= n / 5, s"gen1 $gen1 of $n is not batch-sized")
  }

  test("batch ADC: probe 0's block is the single-probe answer; the cut " +
    "is a mergeable partial aggregate, not a window sort") {
    import spark.implicits._
    val batch = SparkEntry.queries("q_sim_pq_batch")(spark, sf)
    val b0 = batch
      .filter($"probe_id" === 0)
      .select($"vec_id", $"cos")
      .as[(Long, Double)]
      .collect()
      .toSeq
    val single =
      S.simPq(spark, sf).as[(Long, Double)].collect().toSeq
    assert(b0 == single, s"probe-0 block diverged:\n$b0\nvs\n$single")
    val p = batch.queryExecution.executedPlan.toString
    // TopKAgg is an ObjectHashAggregate with a partial stage: B*N scored
    // rows never shuffle into one window partition per probe
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_sim_pq plan: corpus side is shuffle-free — every hash exchange " +
    "is the PqM-row codebook build, the cut is a TakeOrdered") {
    val p = SparkEntry
      .queries("q_sim_pq")(spark, sf)
      .queryExecution
      .executedPlan
      .toString
    val all = "Exchange hashpartitioning".r.findAllIn(p).length
    val cbSide = "Exchange hashpartitioning\\(m".r.findAllIn(p).length
    assert(all == cbSide, s"corpus-side hash exchange present:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_sim_ivfpq composes the coarse prune with the ADC scan: " +
    "broadcasts only, top-k is a TakeOrdered") {
    val p = SparkEntry
      .queries("q_sim_ivfpq")(spark, sf)
      .queryExecution
      .executedPlan
      .toString
    assert(p.contains("BroadcastHashJoin"), p)
    val all = "Exchange hashpartitioning".r.findAllIn(p).length
    val cbSide = "Exchange hashpartitioning\\(m".r.findAllIn(p).length
    assert(all == cbSide, s"corpus-side hash exchange present:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
