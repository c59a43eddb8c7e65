"""Metric arithmetic over a harness record: percentiles, span self time,
failure counting, and the end-to-end and per-layer metric sets."""
import math
import statistics

MODULES = ("IngestOps", "ReportOps", "RelationalOps", "ScalarOps", "StreamOps", "DedupOps",
           "SimilarityOps", "TextOps", "LmOps", "MultimodalOps", "CurationOps", "LayoutOps",
           "TemporalOps")
REGISTRY_LAYERS = ("construct", "plan", "exec")
ETL_LAYERS = ("IngestOps.extract", "IngestOps.dedup", "LenientJson.parse",
              "TypedIngest.validate", "Sinks.load", "ReportOps.aggregate", "Sinks.report")
MIN_BEYOND = 10
# the traced run's layers must account for this share of op wall time
COVERAGE_TOLERANCE = 0.05
MB = 1024.0 * 1024.0


def percentile(values, pct):
    """Nearest-rank percentile: the smallest value with at least ``pct``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, pct):
    """Samples strictly beyond the nearest-rank ``pct`` percentile of n samples."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def count_failures(ops, bad):
    """(attempted, failed): an op fails if it raised or its output check failed."""
    failed = sum(1 for o in ops if not o["ok"] or o["op"] in bad)
    return len(ops), failed


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(rec, good, tail_pct, offered):
    lats = [o["lat_s"] for o in good]
    window = rec["window_s"]
    if offered is not None:
        records = sum(offered[o["day"]] for o in good)
    else:
        records = sum(o["rows"] for o in good)
    return {
        "setup_s": _m(statistics.median(rec["setup_s"]), "s"),
        "op_p50_s": _m(statistics.median(lats), "s"),
        "op_tail_s": _m(percentile(lats, tail_pct), "s"),
        "ops_per_s": _m(len(good) / window, "1/s"),
        "records_per_s": _m(records / window, "1/s"),
        "peak_rss_mb": _m(rec["peak_rss_mb"], "MB"),
    }


def _counts(op):
    """An op's Spark counters, summed over its layers."""
    tot = {}
    for vals in op.get("counts", {}).values():
        for k, v in vals.items():
            tot[k] = tot.get(k, 0) + v
    return tot


def per_layer(rec, good, cpus):
    traced = [o for o in good if o["traced"]]
    plain = [o for o in good if not o["traced"]]
    spans = rec["spans"]
    selfs = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    def layer_mean(op_list, name):
        """Mean self time per op of the layer spans called ``name``."""
        return _mean(sum(selfs[s["id"]] for s in by_op.get(o["op"], []) if s["name"] == name)
                     for o in op_list)

    out = {}
    for m in MODULES:
        ops = [o for o in traced if o.get("module") == m]
        for layer in REGISTRY_LAYERS:
            out[f"{m}.{layer}_s"] = _m(layer_mean(ops, layer), "s")
        out[f"{m}.jobs"] = _m(_mean(_counts(o).get("jobs", 0) for o in ops), "count")
        out[f"{m}.task_s"] = _m(_mean(_counts(o).get("run_ms", 0) / 1e3 for o in ops), "s")
    tot = lambda k: [_counts(o).get(k, 0) for o in traced]  # noqa: E731
    op_wall = sum(o["lat_s"] for o in traced)
    out.update({
        "spark.jobs": _m(_mean(tot("jobs")), "count"),
        "spark.stages": _m(_mean(tot("stages")), "count"),
        "spark.tasks": _m(_mean(tot("tasks")), "count"),
        "spark.task_cpu_s": _m(_mean(x / 1e9 for x in tot("cpu_ns")), "s"),
        "spark.gc_s": _m(_mean(x / 1e3 for x in tot("gc_ms")), "s"),
        "spark.input_mb": _m(_mean(x / MB for x in tot("input_bytes")), "MB"),
        "spark.shuffle_read_mb": _m(_mean(x / MB for x in tot("shuffle_read_bytes")), "MB"),
        "spark.shuffle_write_mb": _m(_mean(x / MB for x in tot("shuffle_write_bytes")), "MB"),
        "spark.spill_mb": _m(_mean(x / MB for x in tot("spill_bytes")), "MB"),
        "spark.busy_ratio": _m(sum(tot("run_ms")) / 1e3 / (op_wall * cpus) if op_wall else 0.0,
                               "ratio"),
    })
    run, skipped = rec["genlog_builds_run"], rec["genlog_builds_skipped"]
    out.update({
        "index.GenLog.builds_run": _m(run, "count"),
        "index.GenLog.builds_skipped": _m(skipped, "count"),
        "index.GenLog.hit_ratio": _m(skipped / (run + skipped) if run + skipped else 0.0, "ratio"),
    })
    for name in ETL_LAYERS:
        out[f"{name}_s"] = _m(layer_mean(traced, name), "s")
    st = lambda k: [o.get("stats", {}).get(k, 0) for o in traced]  # noqa: E731
    offered, inserted = sum(st("valid_rows")), sum(st("inserted_rows"))
    out.update({
        "IngestOps.corrupt_rows": _m(_mean(st("corrupt_rows")), "count"),
        "TypedIngest.rejected_rows": _m(_mean(d - v for d, v in zip(st("dedup_rows"),
                                                                     st("valid_rows"))), "count"),
        "Sinks.rows_offered": _m(_mean(st("valid_rows")), "count"),
        "Sinks.rows_inserted": _m(_mean(st("inserted_rows")), "count"),
        "Sinks.insert_ratio": _m(inserted / offered if offered else 0.0, "ratio"),
        "Sinks.table_rows": _m(max(st("table_rows"), default=0), "count"),
    })
    roots = [s for s in spans if s["parent"] == -1]
    layer_time = sum(selfs[s["id"]] for s in spans if s["parent"] != -1)
    root_time = sum(dur(s) for s in roots)
    out.update({
        "setup.cold_s": _m(rec["setup_s"][0], "s"),
        "trace.coverage": _m(layer_time / root_time if root_time else 0.0, "ratio"),
        "trace.op_self_s": _m(_mean(selfs[s["id"]] for s in roots), "s"),
        "trace.overhead_s": _m((statistics.median(o["lat_s"] for o in traced)
                                - statistics.median(o["lat_s"] for o in plain))
                               if traced and plain else 0.0, "s"),
    })
    return out


def summarize(rec, bad, tail_pct, traced, offered=None):
    attempted, failed = count_failures(rec["ops"], bad)
    good = [o for o in rec["ops"] if o["ok"] and o["op"] not in bad]
    if not good:
        raise SystemExit(f"no op succeeded: {list(bad.values())[:3]}")
    if traced:
        ms = per_layer(rec, good, rec["cpus"])
    else:
        ms = end_to_end(rec, good, tail_pct, offered)
    return {
        "line": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": ms},
        "error_ratio": failed / attempted,
        "tail_pct": tail_pct,
        "beyond": beyond(len(good), tail_pct),
        "bad": bad,
        "setup_samples": rec["setup_s"],
        "probe_s": rec.get("probe_s"),
    }


def describe(result):
    """Human-readable lines printed before the result line."""
    lines = [f"error_ratio {result['error_ratio']:.6f} (failed/attempted)",
             f"op_tail_s is p{result['tail_pct']} with {result['beyond']} samples beyond it"
             + ("" if result["beyond"] >= MIN_BEYOND else " (fewer than 10)"),
             "setup samples " + " ".join(f"{x:.3f}" for x in result["setup_samples"])]
    if result["probe_s"] is not None:
        lines.append(f"calibration_probe_s {result['probe_s']:.4f}")
    cov = result["line"]["metrics"].get("trace.coverage")
    if cov is not None:
        ok = abs(1.0 - cov["value"]) <= COVERAGE_TOLERANCE
        lines.append(f"layer self times cover {cov['value']:.4f} of traced op wall time "
                     f"(tolerance {COVERAGE_TOLERANCE}: {'met' if ok else 'NOT met'})")
    for op, why in sorted(result["bad"].items())[:10]:
        lines.append(f"FAILED op {op}: {why}")
    for k, v in result["line"]["metrics"].items():
        lines.append(f"{k} {v['value']:.6g} {v['unit']}")
    return lines
