"""Output checks. Each returns counts of attempted and failed operations
(batches or queries, plus every output check) and what it saw."""
import csv
import glob
import os
import re
from decimal import Decimal

import gen

STATE_TABLES = ["merchant_summary", "customer_merchant_summary", "merchant_gender_summary"]
DETECTION_ROWS = 50
_EPOCH = re.compile(r"^detections_batch_(\d+)_")


def _state_dump(path, table):
    with open(path, newline="") as f:
        rows = list(csv.DictReader(f))
    if table == "merchant_summary":
        return {(r["merchant_id"],): (int(r["total_transactions"]),) for r in rows}
    if table == "merchant_gender_summary":
        return {(r["merchant_id"],): (int(r["male_transaction_count"]),
                                     int(r["female_transaction_count"])) for r in rows}
    return {(r["customer_id"], r["merchant_id"]): (
        int(r["transaction_count"]), int(Decimal(r["total_amount_sum"]) * 100)) for r in rows}


def stream(res, tx, spec):
    """Final state equals a plain aggregation of the generated input;
    every detection file holds 50 rows except the trailing remainder;
    each pattern fires."""
    failures = []
    attempted = spec["chunks"]          # one per micro-batch, all ran
    expected = gen.expected_state(tx)
    state_rows = {}
    for t in STATE_TABLES:
        got = _state_dump(os.path.join(spec["state_dump_dir"], f"{t}.csv"), t)
        state_rows[t] = len(got)
        attempted += 1
        if got != expected[t]:
            diff = [k for k in set(got) | set(expected[t]) if got.get(k) != expected[t].get(k)]
            failures.append(f"state {t}: {len(diff)} keys differ, e.g. {sorted(diff)[:3]}")

    remainder = set(res["stream"]["remainder_dirs"])
    sink_rows = {}
    files = timed_files = 0
    for d in sorted(os.listdir(spec["sink_dir"])):
        parts = glob.glob(os.path.join(spec["sink_dir"], d, "part-*.csv"))
        rows = []
        for p in parts:
            with open(p, newline="") as f:
                rows += list(csv.DictReader(f))
        files += 1
        attempted += 1
        if d in remainder:
            ok = 0 < len(rows) < DETECTION_ROWS
        else:
            ok = len(rows) == DETECTION_ROWS
            m = _EPOCH.match(d)
            if m and int(m.group(1)) >= spec["warmup_batches"]:
                timed_files += 1
        if not ok:
            failures.append(f"detection file {d}: {len(rows)} rows")
        for r in rows:
            sink_rows[r["PatternId"]] = sink_rows.get(r["PatternId"], 0) + 1
    for pid in ("PatId1", "PatId2", "PatId3"):
        attempted += 1
        if sink_rows.get(pid, 0) == 0:
            failures.append(f"{pid} never fired")
    return {"attempted": attempted, "failed": len(failures), "failures": failures[:20],
            "state_rows": state_rows, "sink_files": files, "sink_files_timed": timed_files,
            "sink_rows": sink_rows}


def _frame_equal(got, want):
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    if len(got) == 0:
        return None
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    for c in g.columns:
        try:
            w[c] = w[c].astype(g[c].dtype)
        except (TypeError, ValueError):
            pass
    if g.equals(w):
        return None
    diff = (g != w) & ~(g.isna() & w.isna())
    return f"{int(diff.values.sum())} differing cells"


def queries(res, spec):
    """Each warm-up output equals its DuckDB oracle over the same
    generated tables; every timed pass returns the warm-up's row count."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(spec["data_dir"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    failures = []
    oracles = res["oracle_sql"]
    for name in spec["queries"]:
        try:
            got = con.sql(f"SELECT * FROM '{spec['output_dir']}/{name}/*.parquet'").df()
            want = con.sql(oracles[name]).df()
            err = _frame_equal(got, want)
        except Exception as e:  # a failing oracle is a failed check
            err = str(e).splitlines()[0]
        if err:
            failures.append(f"{name}: {err}")
    oracle_failures = len(failures)
    q = res["queries"]
    runs = len(spec["queries"]) * len(q["passes"])
    if q["row_mismatches"]:
        failures.append(f"{q['row_mismatches']} timed executions changed row count")
    return {"attempted": len(spec["queries"]) + runs,
            "failed": oracle_failures + q["row_mismatches"],
            "failures": failures[:20], "state_rows": {}, "sink_files": 0,
            "sink_files_timed": 0, "sink_rows": {}}
