"""Output checks, run after the timed window.

Each returns ``{op_id: reason}`` for the ops whose output is wrong (ops
that raised are included with their error); ``metrics.summarize`` counts
them as failed.
"""
import csv
import glob
import math
import os

import duckdb

import gen

AS_OF = "2024-01-30"  # the engine's fixed report day (graft.T.AsOf)


def check_registry(rec, expected):
    """Each query's row count equals the count recorded at the reference commit."""
    bad = {}
    for o in rec["ops"]:
        if not o["ok"]:
            bad[o["op"]] = o.get("error", "failed")
        elif o["name"] not in expected:
            bad[o["op"]] = "no expected row count"
        elif o["rows"] != expected[o["name"]]:
            bad[o["op"]] = f"rows {o['rows']} != expected {expected[o['name']]}"
    return bad


def _day_files(days_dir, last_day):
    return [os.path.join(days_dir, f"{gen.day_name(d)}.json") for d in range(1, last_day + 1)]


def window_records(days_dir):
    """Records offered by day ``d``'s op: the lines of days d-6..d."""
    per_day = {}
    for d in range(1, gen.MONTH_DAYS + 1):
        with open(os.path.join(days_dir, f"{gen.day_name(d)}.json")) as f:
            per_day[d] = sum(1 for _ in f)
    return {d: sum(per_day[k] for k in range(max(1, d - 6), d + 1)) for d in per_day}


def expected_etl(days_dir):
    """DuckDB recomputation over the generated files: per day, the report
    fields of the rows the keyed load keeps, and the running count of
    distinct valid keys."""
    con = duckdb.connect()
    files = _day_files(days_dir, gen.MONTH_DAYS)
    con.execute(f"""
        CREATE TABLE kept AS
        SELECT * FROM (
          SELECT event_id, TRY_CAST(user_id AS BIGINT) AS uid,
                 CAST(ts AS TIMESTAMP) AS ts, event_type
          FROM read_json({files!r}, format = 'newline_delimited',
                         columns = {{'event_id': 'BIGINT', 'ts': 'VARCHAR',
                                     'user_id': 'VARCHAR', 'event_type': 'VARCHAR',
                                     'value': 'DOUBLE', 'props': 'VARCHAR'}}))
        WHERE uid IS NOT NULL AND ts IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY uid, ts ORDER BY event_id) = 1""")
    rows = con.execute("""
        SELECT CAST(ts AS DATE) AS d, count(*),
               count(*) FILTER (WHERE event_type = 'purchase'),
               count(DISTINCT uid),
               count(*) FILTER (WHERE event_type = 'view'),
               count(*) FILTER (WHERE event_type = 'click')
        FROM kept GROUP BY 1 ORDER BY 1""").fetchall()
    out, running = {}, 0
    for d, total, succ, users, run, chk in rows:
        running += total
        pct = math.floor((succ * 100.0 / total) * 100 + 0.5) / 100 if total else None
        out[d.strftime("%Y-%m-%d")] = {
            "total_attempts": total, "successful_attempts": succ,
            "success_percentage": pct, "unique_users": users,
            "run_attempts": run, "check_attempts": chk, "keys_to_date": running}
    return out


def expected_sheet(e):
    return {"report_date": AS_OF,
            "total_attempts": str(e["total_attempts"]),
            "successful_attempts": str(e["successful_attempts"]),
            "success_percentage": "%.2f%%" % (e["success_percentage"] or 0.0),
            "unique_users": str(e["unique_users"]),
            "run_attempts": str(e["run_attempts"]),
            "check_attempts": str(e["check_attempts"])}


def expected_text(e):
    return (f"Daily report for {AS_OF}\n"
            f"Total attempts: {e['total_attempts']}\n"
            f"Successful attempts: {e['successful_attempts']}\n"
            f"Success rate: {e['success_percentage'] or 0.0:.2f}%\n"
            f"Unique users: {e['unique_users']}\n"
            f"Run attempts: {e['run_attempts']}\n"
            f"Check attempts: {e['check_attempts']}")


def read_sheet(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    rows = []
    for p in parts:
        with open(p, newline="") as f:
            rows += list(csv.DictReader(f))
    return {r["metric"]: r["value"] for r in rows}


def check_etl(rec, days_dir):
    """Each day's Metric/Value sheet and text report equal the DuckDB
    recomputation, and each month's final table holds exactly the distinct
    valid keys of the days it loaded."""
    exp = expected_etl(days_dir)
    bad = {}
    last_op = {}
    for o in rec["ops"]:
        last_op[o["month"]] = o
        if not o["ok"]:
            bad[o["op"]] = o.get("error", "failed")
            continue
        e = exp[gen.day_name(o["day"])]
        sheet = read_sheet(o["report"] + ".sheet")
        if sheet != expected_sheet(e):
            bad[o["op"]] = f"sheet {sheet} != {expected_sheet(e)}"
            continue
        with open(o["report"] + ".txt") as f:
            text = f.read()
        if text != expected_text(e):
            bad[o["op"]] = f"report text {text!r} != {expected_text(e)!r}"
    for m in rec.get("months", []):
        want = exp[gen.day_name(m["last_day"])]["keys_to_date"]
        if m["rows"] != want and m["month"] in last_op:
            bad[last_op[m["month"]]["op"]] = f"table rows {m['rows']} != distinct keys {want}"
    return bad

