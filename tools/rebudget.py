#!/usr/bin/env python3
"""Regenerate BUDGETS.json from a bench record (the round-close refresh
rule, SURVEY §7): budget = 2x each query's recorded median, floored at
0.6 s, with the record's calibration probe stored as the normalization
baseline. Drift control: an existing budget is never RAISED by more
than 25% in one refresh unless --force — a slow-host record must not
fossilize slack into the gate (lowering is never capped: the gate only
gets sharper for free). Capped raises are listed so the round close can
note them.

Usage: python3 tools/rebudget.py [target/BENCH_LAST.json] [OUT.json] [--force]
Writes OUT.json (default BUDGETS.json) in the cwd — pass
BUDGETS_sf1.json with a 10x bench record to (re)generate the 10x gate.
"""
import json
import os
import sys

FLOOR = 0.6
FACTOR = 2.0
RAISE_CAP = 1.25


def main():
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:]
    src = args[0] if args else "target/BENCH_LAST.json"
    dst = args[1] if len(args) > 1 else "BUDGETS.json"
    with open(src) as f:
        rec = json.load(f)
    sf = os.path.basename(rec["sf"].rstrip("/"))
    probe = rec.get("calibration", 0.0)
    fresh = {q: max(FLOOR, FACTOR * t) for q, t in rec["queries"].items()}

    old = {}
    if os.path.exists(dst):
        with open(dst) as f:
            prev = json.load(f)
        if prev.get("sf") == sf:
            old = prev.get("budgets", {})

    capped = []
    budgets = {}
    for q, b in sorted(fresh.items()):
        if not force and q in old and b > old[q] * RAISE_CAP:
            budgets[q] = round(old[q] * RAISE_CAP, 4)
            capped.append((q, old[q], b, budgets[q]))
        else:
            budgets[q] = round(b, 4)

    out = {
        "sf": sf,
        "probe": round(probe, 4),
        "probe_semantics": (
            "probe = the source record's calibration (median across "
            "iteration rounds of min-of-3 xxhash64-chain walls, sampled "
            "inside the measured loop). The bench gate scales each budget "
            "by clamp(run_calibration / probe, 1.0, 4.0): a slower host "
            "relaxes budgets up to 4x (the masking direction the "
            "normalization exists for); a faster probe NEVER tightens "
            "below these raw values (a pure-CPU probe does not predict "
            "this mixed scan/shuffle workload in the fast direction — "
            "r13 measured probe ratio 0.41 on <1.05x medians, r15's 0.38 "
            "manufactured 114 phantom violations at the old 0.5 floor). "
            "Budgets = 2x the source record's per-query median, floored "
            "at 0.6 s; the gate statistic compared against them is each "
            "query's MIN across interleaved, per-pass-shuffled "
            "iterations."),
        "basis": os.path.basename(src),
        "budgets": budgets,
    }
    with open(dst, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{dst}: {len(budgets)} budgets at sf={sf}, probe={probe:.3f}")
    for q, ob, want, got in capped:
        print(f"  CAPPED {q}: {ob:.3f} -> wanted {want:.3f}, wrote {got:.3f}"
              " (raise >25% needs --force + a verdict note)")


if __name__ == "__main__":
    main()
