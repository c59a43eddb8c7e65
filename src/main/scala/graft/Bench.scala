package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Build/serve decompositions of the served/incremental queries: the
  * composed registry queries charge index construction to every bench
  * iteration, masking serve-latency regressions — the figure a retrieval
  * or daily-ingest tier actually tracks. Build runs once per bench
  * (amortized across days in production); serve is the tracked metric.
  * BenchSplitSpec pins each serve's rows ≡ the composed query's.
  */
object BenchSplits {
  def of(s: SparkSession, d: String): Seq[(String, (() => Unit, () => DataFrame))] =
    Seq(
      "q_sim_served" -> ops.SimilarityOps.simServedSplit(s, d),
      "q_sim_incr" -> ops.SimilarityOps.simIncrSplit(s, d),
      "q_sim_ivf_served" -> ops.SimilarityOps.simIvfServedSplit(s, d),
      "q_sim_quantized_served" -> ops.SimilarityOps.simQuantizedServedSplit(s, d),
      "q_index_bm25_served" -> ops.TextOps.bm25Split(s, d),
      "q_index_phrase_served" -> ops.TextOps.phraseSplit(s, d),
      "q_index_phrase_incr" -> ops.TextOps.phraseIncrSplit(s, d),
      "q_lm_score" -> ops.LmOps.lmScoreSplit(s, d),
      "q_lm_kn" -> ops.LmOps.lmKnSplit(s, d),
      "q_lm_interp" -> ops.LmOps.lmInterpSplit(s, d),
      "q_lm_bucket" -> ops.LmOps.lmBucketSplit(s, d),
      "q_lm_score_lang" -> ops.LmOps.lmScoreLangSplit(s, d),
      // q_lm_score_incr: serve = O(batch) delta scoring under the
      // pinned base-epoch model + slim score-state read — the per-doc
      // score family's daily-ingest figure.
      "q_lm_score_incr" -> ops.LmOps.lmScoreIncrSplit(s, d),
      "q_index_bm25_incr" -> ops.TextOps.bm25IncrSplit(s, d),
      "q_retrieval_rrf_served" -> ops.TextOps.rrfServedSplit(s, d),
      // q_agg_quantile_served has NO split entry: its composed output is
      // the gate CONTRACT (exact companions + booleans), not the served
      // report, so the split-identity rule (serve ≡ composed) cannot
      // hold while keeping the serve figure state-only. QDigestSpec pins
      // serve ≡ the in-session merge path instead.
      // q_agg_quantile_incr DOES split (the dedupIncr shape): build
      // writes both sketch generations once; serve is merge-on-read plus
      // the one-pass contract armor — the serve figure includes that
      // gate-scale raw pass (documented; the production state-only serve
      // is RelationalOps.serveRollup, identity-pinned by
      // StreamingRollupSpec).
      "q_agg_quantile_incr" -> ops.RelationalOps.quantileIncrSplit(s, d),
      // q_agg_rollup_daily: same deviation as q_agg_quantile_incr — the
      // serve leg is the straddled merge-on-read PLUS the one-pass
      // contract armor (production serve = serveRollupDaily alone).
      "q_agg_rollup_daily" -> ops.RelationalOps.rollupDailySplit(s, d),
      "q_dedup_incr" -> ops.DedupOps.dedupIncrSplit(s, d),
      // q_dedup_cc_incr: serve INCLUDES the per-batch apply commit (the
      // daily-ingest figure the apply<<rebuild claim is about) plus the
      // slim merge-on-read view; build is the one-time base seed.
      "q_dedup_cc_incr" -> ops.DedupOps.dedupCcIncrSplit(s, d),
      "q_dedup_embed_incr" -> ops.DedupOps.embedIncrSplit(s, d),
      "q_dedup_semantic_incr" -> ops.SimilarityOps.semanticIncrSplit(s, d))
}

object Bench {

  /** Fixed CPU-bound calibration probe: data-independent pure-Spark
    * compute (an xxhash64 chain summed over a range — whole-stage
    * codegen, no I/O, no shuffle beyond the final partial-sum collect).
    * Its wall time characterizes the HOST'S momentary throughput, which on
    * a shared host moves registry totals by 1.5× on identical code. The
    * bench emits the probe in the record, and the budget gate scales
    * each budget by probe/probe_baseline (the baseline is recorded in
    * BUDGETS.json at derivation time), so a slow-host day cannot mask a
    * genuine regression behind uniform inflation and a fast-host day
    * cannot fossilize slack into re-derived budgets. One call is one
    * sample; callers warm first.
    */
  private def probeOnce(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    // bit_xor, not sum: summing uniform longs overflows under ANSI
    // arithmetic; xor keeps the same per-row work overflow-free
    s.range(0L, 1L << 27, 1L, s.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(xxhash64(xxhash64(id))))")
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-query gate statistic: the MIN across a query's interleaved
    * iteration samples (see main()'s budget-gate comment — regressions
    * slow every sample, transient load only some). Name order follows
    * `order`; queries with no successful sample are absent.
    */
  private[graft] def gateTimes(
      order: Seq[String],
      samples: collection.Map[String, List[Double]]): Seq[(String, Double)] =
    order.flatMap { name =>
      val ts = samples.getOrElse(name, Nil)
      if (ts.isEmpty) None else Some(name -> ts.min)
    }

  /** A budget file's JSON when the file exists and budgets this run's
    * scale: its `sf` equals the basename of `sfDir` exactly, since
    * substring containment would apply an sf0.1 budget file to sf0.15 or
    * sf0.1-alt dirs at the wrong scale. Parse errors propagate.
    */
  private def budgetsFor(sfDir: String, budgetFile: String): Option[JValue] = {
    val f = java.nio.file.Paths.get(budgetFile)
    if (!java.nio.file.Files.exists(f)) None
    else {
      val json = JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      if (new java.io.File(sfDir).getName == (json \ "sf").extract[String]) Some(json)
      else None
    }
  }

  private implicit val formats: Formats = DefaultFormats

  /** Queries whose gate statistic — the per-query MIN across interleaved
    * iterations, see [[gateTimes]] — exceeds their BUDGETS.json budget at
    * the file's scale factor — (name, measured, effective budget), empty
    * on a clean run or when this run's scale isn't the budgeted one.
    * Min (not median) is deliberate at 3 iterations: a code regression
    * slows EVERY sample; transient co-load slows only some, and the
    * second-smallest of 3 is already the median this gate replaced. An
    * intermittent-only regression (GC/cache-cold) is accepted as the
    * price of transient-load immunity; raise iterations before changing
    * the statistic.
    * When the file records the derivation-time calibration probe and
    * this run measured one, each budget is scaled by the probe ratio
    * (clamped to [1, 4]: slow hosts relax, fast probes never tighten —
    * see the clamp comment below). A malformed or absent budget file
    * disables the check rather than failing the bench (the budgets
    * guard regressions; they must never cost the record itself).
    */
  private[graft] def budgetViolations(
      sfDir: String,
      results: Seq[(String, Double)],
      budgetFile: String,
      calibration: Double = 0.0): Seq[(String, Double, Double)] =
    try budgetsFor(sfDir, budgetFile).toSeq.flatMap { json =>
      val probe = (json \ "probe").extractOpt[Double].getOrElse(0.0)
      // ASYMMETRIC clamp [1, 4]: a FAST probe never tightens budgets
      // below raw. The probe ratio has read 0.41 between two windows
      // whose QUERY medians moved 0.95-1.0×, and 0.38 on a run whose true
      // medians ran 1.28× SLOW — a 0.5 floor turned that halving into 114
      // phantom violations. The pure-CPU all-core probe simply does not
      // predict this mixed scan/shuffle workload in the fast direction,
      // so normalization applies only in the masking direction it exists
      // for: a slow probe relaxes up to 4× (over-relaxing only loosens
      // the gate, never fires it falsely); a fast probe leaves the raw
      // budgets in force.
      val ratio =
        if (probe > 0.0 && calibration > 0.0)
          math.min(4.0, math.max(1.0, calibration / probe))
        else 1.0
      (json \ "budgets").extract[Map[String, Double]].toSeq.sorted.flatMap {
        case (q, budget) =>
          val eff = budget * ratio
          results.collectFirst {
            case (`q`, t) if t > eff => (q, t, eff)
          }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] budget check skipped: $e"); Nil
    }

  /** The RAW (pre-clamp) probe ratio a budget file's gate would scale
    * by, for each file whose recorded sf matches this run — emitted in
    * the record so a consumer can tell a gate that ran in force (ratio
    * ≥ 1) from one running de-sensitized on a fast host (ratio < 1,
    * clamped up to 1 — a genuine regression up to 1/ratio× can pass raw
    * budgets there). A file without a probe, and parsing failures, yield
    * no entry — the diagnostics must never cost the record.
    */
  private[graft] def probeRatios(
      sfDir: String,
      files: Seq[String],
      calibration: Double): Seq[(String, Double)] =
    files.flatMap { bf =>
      try budgetsFor(sfDir, bf).flatMap { json =>
        (json \ "probe").extractOpt[Double].collect {
          case p if p > 0.0 && calibration > 0.0 => bf -> calibration / p
        }
      } catch { case _: Throwable => None }
    }

  /** The bench record: one JSON object, keys in a fixed order. Per-query
    * figures follow `names`; `samples` and `counts` hold each query's
    * passes newest first, `splits` is (name, build, serve). Headline
    * figures are medians; the orchestration counters are the MIN across
    * passes, the steady state free of the first pass's one-time index
    * builds.
    */
  private[graft] def record(
      sfDir: String,
      iters: Int,
      names: Seq[String],
      samples: collection.Map[String, List[Double]],
      errors: collection.Map[String, String],
      counts: collection.Map[String, List[JobCounter.Counts]],
      calSamples: Seq[Double],
      calibration: Double,
      splits: Seq[(String, Double, Double)],
      builds: (Long, Long),
      violations: Seq[(String, Double, Double)],
      ratios: Seq[(String, Double)]): JObject = {
    def per[A](f: List[A] => JValue)(m: collection.Map[String, List[A]]): JObject =
      JObject(names.toList.flatMap { n =>
        val xs = m.getOrElse(n, Nil)
        if (xs.isEmpty) None else Some(n -> f(xs))
      })
    val results = names.flatMap { n =>
      val ts = samples.getOrElse(n, Nil).sorted
      if (ts.isEmpty) None else Some(n -> ts(ts.size / 2))
    }
    def least(f: JobCounter.Counts => Long) =
      per[JobCounter.Counts](cs => JLong(cs.map(f).min))(counts)
    JObject(
      "metric" -> JString("total"),
      "value" -> JDouble(results.map(_._2).sum),
      "unit" -> JString("sec"),
      "queries" -> JObject(results.toList.map { case (n, t) => n -> JDouble(t) }),
      "errors" -> JObject(errors.toList.sortBy(_._1).map { case (n, e) => n -> JString(e) }),
      // a query that failed in some passes has a median over fewer
      // samples; a consumer must be able to tell a 3-sample median from a
      // 1-sample one
      "partial_samples" -> per[Double](ts => JInt(ts.size))(
        samples.filter(_._2.size != iters)),
      // raw samples in run order, so a transient co-load window (one
      // inflated sample, min clean) is told apart from a genuine
      // regression (every sample slow) from the record alone
      "samples" -> per[Double](ts => JArray(ts.reverse.map(JDouble(_))))(samples),
      "cal_samples" -> JArray(calSamples.toList.map(JDouble(_))),
      "splits" -> JObject(splits.toList.map { case (n, b, sv) =>
        n -> JObject("build" -> JDouble(b), "serve" -> JDouble(sv)) }),
      "jobs" -> least(_.jobs),
      "stages" -> least(_.stages),
      "task_sec" -> per[JobCounter.Counts](cs => JDouble(cs.map(_.taskMs).min / 1000.0))(counts),
      "catalog" -> JObject(
        "builds_run" -> JLong(builds._1), "builds_skipped" -> JLong(builds._2)),
      "budget_violations" -> JObject(violations.toList.map { case (q, t, b) =>
        q -> JObject("sec" -> JDouble(t), "budget" -> JDouble(b)) }),
      "probe_ratio_raw" -> JObject(ratios.toList.map { case (f, r) => f -> JDouble(r) }),
      "budget_basis" -> JString("min"),
      "order" -> JString("per-pass seeded shuffle"),
      "calibration" -> JDouble(calibration),
      "sf" -> JString(sfDir),
      "iterations" -> JInt(iters))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Median of N measured iterations per query; the budget gate reads
    // the MIN. Default 5: at 3 passes, one co-load window can inflate 2
    // of 3 samples (q_text_repetition has read [0.30, 2.56, 2.23]),
    // leaving the min one bad pass from contamination with no margin; 5
    // passes keep ≥ 3 clean samples under the same event.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt.max(1)
    val spark = Session.local()
    // Untimed warmup, each step individually guarded — one failing table
    // scan must not skip the rest of the warmup, or the first measured
    // queries silently eat codegen JIT + first-touch I/O. Two parts:
    //  1. full scan of every table (noop sink reads all column pages), so
    //     no measured query is charged the first-touch I/O of its inputs;
    //  2. every query once at the smallest scale factor — the schemas are
    //     identical, so the generated whole-stage-codegen classes are the
    //     same ones the measured run needs: compilation and JIT happen
    //     here instead of inside the first measured query.
    def quietly(step: => Unit): Unit =
      try step catch { case _: Throwable => () }
    quietly(graft.T(spark, sfDir, "events").limit(1000)
      .groupBy("event_type").count().count())
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => quietly(
        graft.T(spark, sfDir, t).write.mode("overwrite").format("noop").save()))
    val warmDir = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
    if (warmDir.isDirectory) {
      val wd = warmDir.getAbsolutePath
      SparkEntry.queries.foreach { case (_, fn) =>
        quietly(fn(spark, wd).write.mode("overwrite").format("noop").save())
      }
    }
    System.gc() // drop warmup garbage so no measured query eats the pause
    // Host-throughput calibration: warmed once here, then SAMPLED
    // BETWEEN ITERATION ROUNDS of the measured loop below — a probe taken
    // once outside the loop can land in a load window unlike the
    // queries' and mis-scale every budget. Each sample point is the MIN
    // of 3: a GC pause or scheduling hiccup inside one ~0.5 s sample only
    // ever biases UPWARD, while genuine sustained load slows every
    // sample.
    probeOnce(spark) // codegen + JIT warm; untimed
    val calSamples = collection.mutable.Buffer(Seq.fill(3)(probeOnce(spark)).min)
    // Name order is stable across runs, so per-query numbers are
    // comparable. Served/incremental queries ride the build-once index
    // catalog: iteration 1 pays the index build and iterations 2..n serve
    // from the committed artifacts, so their medians are serve-dominated
    // (the production amortization). The from-cold build cost is
    // reported in `splits` below, which runs under its own fresh
    // warehouse root.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // INTERLEAVED iterations: run the full query list `iters` times and take
    // each query's median ACROSS list-rounds. Back-to-back iterations of one
    // query share any multi-second host-contention window, so their median
    // still reports the contended time; interleaving puts ~the full list
    // between a query's samples, decorrelating the noise.
    val samples = collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val errors = collection.mutable.Map.empty[String, String]
    // Per-query job/stage/task-second attribution: at sf0.1 most queries
    // are fixed-overhead-bound, so a core-scaling probe reads ≈1 across
    // the board and cannot tell an overhead-bound query from a serial
    // one — the submitted-job count and executor task-seconds in the
    // record make that distinction machine-checkable. Attribution is
    // OUTSIDE the timed window: the wall-clock sample is captured first,
    // then the counters are read.
    val counter = JobCounter.on(spark.sparkContext)
    val counts = collection.mutable.Map.empty[String, List[JobCounter.Counts]]
      .withDefaultValue(Nil)
    // Catalog-hit counters over the MEASURED loop: with build-once,
    // builds_run ≈ the distinct canonical indexes (paid on iteration 1)
    // and builds_skipped ≈ (iters-1)×that. A regression that silently
    // re-builds per iteration shows up here as builds_run ≈ iters×k
    // instead of masquerading as a serve slowdown. (When sfDir IS the
    // warmup scale the warmup prepays the builds and the measured loop
    // records only skips — still regression-visible: a per-iteration
    // rebuild would show builds_run > 0 regardless.)
    val builds0 = graft.index.GenLog.buildsRun.get()
    val skips0 = graft.index.GenLog.buildsSkipped.get()
    for (it <- 1 to iters) {
      // PER-PASS ORDER SHUFFLE (seeded, deterministic): a phase-locked
      // host co-load window that recurs at the same offset of each
      // interleaved pass would hit the SAME queries every time (six
      // consecutive alphabetical slots over budget in every pass), so
      // even min-of-iters could not reject it and a co-load would
      // impersonate a regression. A different deterministic permutation
      // per pass decorrelates wall-clock phase from query identity: a
      // window at a fixed offset lands on different queries each pass,
      // and the per-query min escapes it. Seeded by pass index only — two
      // runs of the same build execute the identical schedule, so
      // records stay comparable.
      val passOrder = new scala.util.Random(0x5DEECE66DL + it).shuffle(names)
      for ((name, fn) <- passOrder) {
        val c0 = counter.snapshot()
        val t0 = System.nanoTime()
        // noop sink materializes every output column; count() would let the
        // optimizer prune the very expressions being measured
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          // only successful runs are timed: a fast-failing query must not
          // lower the reported total (it reports into "errors" instead)
          samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples(name)
          counts(name) = (counter.snapshot() - c0) :: counts(name)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name: $e")
            errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        }
      }
      // a probe sample inside the same load window as this round's queries
      calSamples += Seq.fill(3)(probeOnce(spark)).min
    }
    // MEDIAN across rounds — the same statistic the query timings use,
    // so the probe reflects the typical load the medians saw (a min
    // would pick the one clean window and re-create the mismatch);
    // min-of-3 WITHIN a sample point still discards GC/scheduler spikes
    val calibration = { val s = calSamples.sorted; s(s.size / 2) }
    // Budget gate basis: the MIN across interleaved iterations, not the
    // median the headline numbers report. A genuine code regression slows
    // EVERY iteration, so the min still catches it; a host-load window
    // (q_index_bm25_incr has read a 3.20 s median against 1.36 s on
    // identical code in a clean window) inflates only the samples it
    // overlaps, and with a full list-round between a query's samples the
    // min escapes it. The calibration probe still scales the budgets —
    // min-of-iterations handles TRANSIENT load the probe can't see,
    // the probe handles SUSTAINED load that slows every sample
    // (BenchGateSpec pins both directions).
    val gateResults = gateTimes(names.map(_._1), samples)
    val builds = (graft.index.GenLog.buildsRun.get() - builds0,
      graft.index.GenLog.buildsSkipped.get() - skips0)
    // Build/serve sub-timings: build once (timed), one untimed serve to
    // absorb file-listing first-touch, then `iters` timed serves, median.
    // The headline per-query numbers above stay the composed queries, so
    // they remain comparable across runs; "serve" here is the tracked
    // serve-latency metric. The splits run under their OWN fresh
    // warehouse root: the registry phase's build-once catalog already
    // committed every canonical index, so without the override each
    // split's "build" would time a marker check, not a build — the
    // fresh root keeps the build figure the true from-cold index cost
    // (and q_retrieval_rrf_served's build still drops to store-only,
    // because the sibling splits commit the shared bm25/ann artifacts
    // under this root first).
    spark.conf.set(
      graft.index.GenLog.RootKey,
      s"${System.getProperty("java.io.tmpdir")}/graft_bench_splits_${spark.sparkContext.applicationId}")
    val splits = BenchSplits.of(spark, sfDir).flatMap {
      case (name, (build, serve)) =>
        try {
          val b0 = System.nanoTime()
          build()
          val tb = (System.nanoTime() - b0) / 1e9
          def serveOnce(): Double = {
            val t0 = System.nanoTime()
            serve().write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }
          serveOnce()
          val ts = (1 to iters).map(_ => serveOnce()).sorted
          Some((name, tb, ts(ts.size / 2)))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] split $name: $e")
            None
        }
    }
    // Per-query latency budgets (BUDGETS.json: 2x the last recorded
    // median, floored): the 2x TOTAL gate can hide one query regressing
    // 5x while others improve — a violation here makes that single-query
    // regression machine-checkable in the bench record itself, like the
    // catalog counters. Budgets are scale-specific: each file self-gates
    // on its recorded sf basename, so checking both candidates never
    // double-fires — BUDGETS.json gates the sf0.1 run, BUDGETS_sf1.json
    // the 10x staged run (tools/rebudget.py writes either from the
    // matching bench record).
    val budgetFiles = Seq("BUDGETS.json", "BUDGETS_sf1.json")
    val violations = budgetFiles.flatMap(f =>
      budgetViolations(sfDir, gateResults, f, calibration))
    // Raw pre-clamp probe ratios per applicable budget file: ratio < 1
    // means the [1,4] clamp held budgets at raw on a faster-than-
    // derivation host — the gate ran de-sensitized by that factor and
    // the record says so instead of presenting a silently weaker gate.
    val ratios = probeRatios(sfDir, budgetFiles, calibration)
    val rec = record(sfDir, iters, names.map(_._1), samples, errors, counts,
      calSamples.toSeq, calibration, splits, builds, violations, ratios)
    val full = JsonMethods.compact(JsonMethods.render(rec))
    println(full)
    // The harness snapshots only the TAIL of stdout; the full line above is
    // one long JSON record whose head (including "value") can fall outside
    // that window. Emit a short trailer that always fits in any tail, and
    // persist the full record to a repo file as the durable copy.
    println(JsonMethods.compact(JsonMethods.render(JObject(
      "metric" -> JString("total_only"),
      "value" -> rec \ "value",
      "unit" -> JString("sec"),
      "n_queries" -> JInt((rec \ "queries").children.size),
      "n_errors" -> JInt(errors.size),
      "n_budget_violations" -> JInt(violations.size)))))
    try {
      val out = java.nio.file.Paths.get("BENCH_LAST.json")
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] write BENCH_LAST.json: $e") }
    spark.stop()
  }
}
