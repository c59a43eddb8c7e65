package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's budget gate and its record, as pure functions: no Spark. */
class BenchGateSpec extends AnyFunSuite {
  private implicit val fmts: Formats = DefaultFormats

  test("budget gate basis: min across interleaved iterations, not the median") {
    // The reported medians and the gate statistic deliberately differ: a
    // transient host-load window inflates SOME samples (the round-13
    // q_index_bm25_incr false flag: one 3.2 s sample on code whose clean
    // time is 1.3 s) and the min escapes it, while a genuine regression
    // slows EVERY sample and the min still catches it.
    val samples = Map(
      "q_loaded" -> List(3.2, 1.3, 1.4), // one contaminated sample
      "q_regressed" -> List(3.2, 3.1, 3.3), // all samples slow
      "q_failed" -> List.empty[Double])
    val gate = Bench.gateTimes(
      Seq("q_loaded", "q_regressed", "q_failed", "q_absent"), samples)
    assert(gate === Seq("q_loaded" -> 1.3, "q_regressed" -> 3.1))
    // against a 2.0 budget: the load window does NOT flag, the true
    // regression DOES
    val f = java.nio.file.Files.createTempFile("graft_budgets_min", ".json")
    java.nio.file.Files.write(f,
      """{"sf":"sf0.1","budgets":{"q_loaded":2.0,"q_regressed":2.0}}"""
        .getBytes("UTF-8"))
    assert(
      Bench.budgetViolations("/root/testdata/sf0.1", gate, f.toString) ===
        Seq(("q_regressed", 3.1, 2.0)))
  }

  test("budget gate: violations flag only over-budget queries at the budgeted scale") {
    val f = java.nio.file.Files.createTempFile("graft_budgets", ".json")
    java.nio.file.Files.write(f,
      """{"sf":"sf0.1","budgets":{"q_a":1.0,"q_b":2.0,"q_gone":1.0}}"""
        .getBytes("UTF-8"))
    val results = Seq("q_a" -> 1.5, "q_b" -> 1.9, "q_new" -> 99.0)
    // q_a over, q_b under, q_new has no budget (new query), q_gone unmeasured
    assert(
      Bench.budgetViolations("/root/testdata/sf0.1", results, f.toString) ===
        Seq(("q_a", 1.5, 1.0)))
    // scale mismatch: budgets are sf0.1-specific, an sf0.01 run never flags
    assert(Bench.budgetViolations("/root/testdata/sf0.01", results, f.toString)
      === Nil)
    // absent or malformed file disables the check, never fails the bench
    assert(Bench.budgetViolations("/root/testdata/sf0.1", results,
      "/nonexistent/budgets.json") === Nil)
    java.nio.file.Files.write(f, "not json".getBytes("UTF-8"))
    assert(Bench.budgetViolations("/root/testdata/sf0.1", results, f.toString)
      === Nil)
    // calibration-normalized gate: with a recorded derivation probe,
    // budgets scale by thisRun/baseline — a slow host (ratio 2) stops
    // flagging uniform inflation; a FAST probe never tightens below the
    // raw budgets (round 15: a 0.38 probe ratio on a run whose true
    // medians ran 1.28x SLOW manufactured 114 phantom violations at the
    // old 0.5 floor — the pure-CPU probe does not predict this mixed
    // scan/shuffle workload in the fast direction)
    java.nio.file.Files.write(f,
      """{"sf":"sf0.1","probe":1.0,"budgets":{"q_a":1.0,"q_b":2.0}}"""
        .getBytes("UTF-8"))
    val d = "/root/testdata/sf0.1"
    // slow host: q_a at 1.5 is inside its 2.0 effective budget
    assert(Bench.budgetViolations(d, results, f.toString, calibration = 2.0)
      === Nil)
    // fast host: budgets stay RAW — q_a still flags, q_b still doesn't
    assert(Bench.budgetViolations(d, results, f.toString, calibration = 0.5)
      === Seq(("q_a", 1.5, 1.0)))
    // ratio clamps at 4x: an absurd probe cannot disable the gate
    assert(Bench.budgetViolations(d, Seq("q_a" -> 4.1), f.toString,
      calibration = 100.0) === Seq(("q_a", 4.1, 4.0)))
    // ...and never tightens below 1x: an ultra-fast probe cannot
    // manufacture violations a raw-budget gate wouldn't fire
    assert(Bench.budgetViolations(d, Seq("q_b" -> 1.1), f.toString,
      calibration = 0.01) === Nil)
    // no calibration measured -> raw budgets (back-compat)
    assert(Bench.budgetViolations(d, results, f.toString) ===
      Seq(("q_a", 1.5, 1.0)))
    // the checked-in BUDGETS.json covers the full registry
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BUDGETS.json")), "UTF-8")
    val parsed = org.json4s.jackson.JsonMethods.parse(txt)
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val budgeted = (parsed \ "budgets").extract[Map[String, Double]].keySet
    val missing = SparkEntry.queries.keySet -- budgeted
    // new queries land without a budget until the next round records a
    // median; more than a handful unbudgeted means the file went stale
    assert(missing.size <= 5, s"unbudgeted queries: $missing")
  }

  test("probe ratios: raw calibration / probe, only for a probed file at this scale") {
    def file(json: String): String = {
      val f = java.nio.file.Files.createTempFile("graft_budgets_probe", ".json")
      java.nio.file.Files.write(f, json.getBytes("UTF-8"))
      f.toString
    }
    val probed = file("""{"sf":"sf0.1","probe":2.0,"budgets":{"q_a":1.0}}""")
    val other = file("""{"sf":"sf1","probe":2.0,"budgets":{"q_a":1.0}}""")
    val unprobed = file("""{"sf":"sf0.1","budgets":{"q_a":1.0}}""")
    val d = "/data/sf0.1"
    // no [1, 4] clamp: 0.5 / 2.0 reads 0.25, 9.0 / 2.0 reads 4.5
    assert(Bench.probeRatios(d, Seq(probed), 0.5) === Seq(probed -> 0.25))
    assert(Bench.probeRatios(d, Seq(probed), 9.0) === Seq(probed -> 4.5))
    // another scale's file and a file without a probe give no entry
    assert(Bench.probeRatios(d, Seq(other, unprobed, probed), 1.0) === Seq(probed -> 0.5))
    // nor do a missing file and an unmeasured calibration
    assert(Bench.probeRatios(d, Seq("/nonexistent/budgets.json"), 1.0) === Nil)
    assert(Bench.probeRatios(d, Seq(probed), 0.0) === Nil)
  }

  test("bench record: quotes, backslashes and newlines in sf and errors parse back") {
    val sf = "/data/\"odd\"\\dir\nsf0.1"
    val err = "AnalysisException: column \"a\\b\" not found\n  at line 2"
    val rec = Bench.record(
      sfDir = sf,
      iters = 2,
      names = Seq("q_a", "q_b", "q_c"),
      samples = Map("q_a" -> List(2.0, 1.0), "q_c" -> List(0.5)),
      errors = Map("q_b" -> err),
      counts = Map("q_a" -> List(JobCounter.Counts(3, 4, 1500, 9), JobCounter.Counts(5, 2, 2500, 9))),
      calSamples = Seq(0.6, 0.4),
      calibration = 0.5,
      splits = Seq(("q_a", 1.25, 0.75)),
      builds = (1L, 3L),
      violations = Seq(("q_a", 2.0, 1.5)),
      ratios = Seq("BUDGETS.json" -> 0.9))
    val back = parse(compact(render(rec)))
    assert((back \ "sf").extract[String] === sf)
    assert((back \ "errors" \ "q_b").extract[String] === err)
    // tools/rebudget.py and the total_only trailer read these keys
    assert(back.asInstanceOf[JObject].obj.map(_._1) === Seq(
      "metric", "value", "unit", "queries", "errors", "partial_samples",
      "samples", "cal_samples", "splits", "jobs", "stages", "task_sec",
      "catalog", "budget_violations", "probe_ratio_raw", "budget_basis",
      "order", "calibration", "sf", "iterations"))
    // medians for the headline, run order for samples, MIN per counter
    assert((back \ "queries").extract[Map[String, Double]] === Map("q_a" -> 2.0, "q_c" -> 0.5))
    assert((back \ "value").extract[Double] === 2.5)
    assert((back \ "partial_samples").extract[Map[String, Int]] === Map("q_c" -> 1))
    assert((back \ "samples" \ "q_a").extract[Seq[Double]] === Seq(1.0, 2.0))
    assert((back \ "jobs").extract[Map[String, Long]] === Map("q_a" -> 3L))
    assert((back \ "stages").extract[Map[String, Long]] === Map("q_a" -> 2L))
    assert((back \ "task_sec").extract[Map[String, Double]] === Map("q_a" -> 1.5))
    assert((back \ "splits" \ "q_a" \ "serve").extract[Double] === 0.75)
    assert((back \ "catalog" \ "builds_skipped").extract[Long] === 3L)
    assert((back \ "budget_violations" \ "q_a" \ "budget").extract[Double] === 1.5)
    assert((back \ "iterations").extract[Int] === 2)
  }
}
