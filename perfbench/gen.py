"""Seeded input generator for the ``etl_daily`` workload.

``make_etl_days`` turns the sf0.1 ``events`` table (the seed-42 table under
``perfbench/data/sf0.1``) into per-day JSON-lines files shaped like the
reference's API records: ``props`` carries ``passback_params`` in several
dialects, and a seeded share of rows has an empty user id, a missing
timestamp or a duplicated ``(user_id, ts)`` key. It is a pure function of
its seed: the same seed gives the same bytes.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow.parquet as pq

MONTH_START = dt.datetime(2024, 1, 1)
MONTH_DAYS = 30

# Shares of the passback_params dialects in the ETL input, and of the
# injected bad rows (fractions of the source events).
PASSBACK_SHARES = {"json": 0.60, "pyliteral": 0.20, "malformed": 0.10,
                   "empty": 0.05, "null": 0.05}
EMPTY_USER_SHARE = 0.01
NULL_TS_SHARE = 0.01
DUP_KEY_SHARE = 0.01


def _passback(kind, ck, sid, svc):
    ck, sid, svc = f"ck-{ck}", f"sid-{sid}", f"https://lms.example/outcome/{svc}"
    if kind == "json":
        return json.dumps({"oauth_consumer_key": ck, "lis_result_sourcedid": sid,
                           "lis_outcome_service_url": svc})
    if kind == "pyliteral":
        return (f"{{'oauth_consumer_key': '{ck}', 'lis_result_sourcedid': '{sid}', "
                f"'lis_outcome_service_url': '{svc}', 'is_graded': True, 'extra': None}}")
    if kind == "malformed":
        return "not json"
    if kind == "empty":
        return ""
    return None


def day_name(day):
    """File stem of simulated day ``day`` (1-based)."""
    return (MONTH_START + dt.timedelta(days=day - 1)).strftime("%Y-%m-%d")


def _line(event_id, ts, user_id, event_type, value, props):
    return (f'{{"event_id":{event_id},"ts":{json.dumps(ts)},"user_id":{json.dumps(user_id)},'
            f'"event_type":{json.dumps(event_type)},"value":{json.dumps(value)},'
            f'"props":{json.dumps(props)}}}\n')


def make_etl_days(events_parquet, out_dir, seed):
    """Write one JSON-lines file per simulated day into ``out_dir``.

    Returns a summary dict (row counts per passback form and injection)."""
    os.makedirs(out_dir, exist_ok=True)
    ev = pq.read_table(events_parquet).to_pydict()
    rng = np.random.default_rng(seed)
    n = len(ev["event_id"])
    kinds = list(PASSBACK_SHARES)
    kind_ix = rng.choice(len(kinds), n, p=list(PASSBACK_SHARES.values()))
    ck, sid, svc = rng.integers(0, 40, n), rng.integers(0, 10**6, n), rng.integers(0, 500, n)
    bad = rng.random(n)
    next_id = max(ev["event_id"]) + 1
    days = {d: [] for d in range(1, MONTH_DAYS + 1)}
    summary = {k: 0 for k in kinds}
    summary.update(empty_user=0, null_ts=0, dup_key=0)
    for i in range(n):
        ts, user = ev["ts"][i], ev["user_id"][i]
        kind = kinds[kind_ix[i]]
        summary[kind] += 1
        props = _passback(kind, ck[i], sid[i], svc[i])
        ts_text = ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        day = (ts - MONTH_START).days + 1
        if bad[i] < EMPTY_USER_SHARE:
            user = ""
            summary["empty_user"] += 1
        elif bad[i] < EMPTY_USER_SHARE + NULL_TS_SHARE:
            ts_text = None
            summary["null_ts"] += 1
        days[day].append(_line(ev["event_id"][i], ts_text, user, ev["event_type"][i],
                               ev["value"][i], props))
        if bad[i] > 1.0 - DUP_KEY_SHARE:
            # the same (user_id, ts) key again, later in the feed and with
            # other attributes: the first writer (lowest event_id) wins
            days[day].append(_line(next_id, ts_text, user, "purchase", ev["value"][i],
                                   _passback("json", ck[i], sid[i], svc[i])))
            next_id += 1
            summary["dup_key"] += 1
    for d, lines in days.items():
        with open(os.path.join(out_dir, f"{day_name(d)}.json"), "w") as f:
            f.writelines(lines)
    summary["records"] = sum(len(v) for v in days.values())
    return summary
