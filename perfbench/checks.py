"""Output checks. They run after the harness JVM has exited, so nothing here
is inside a timed region.

Pipeline ops are checked against the answers `fraudgen` wrote by
construction; query ops against DuckDB running the query's declared oracle
SQL (`SparkEntry.oracleSql`) over the same generated tables, compared the
way tools/check.py compares them.
"""
import datetime as dt
import glob
import json
import math
import os

DQ_RULES = ("timestamp_not_null", "transaction_type_not_null", "amount_not_null",
            "amount_non_negative")


def _rows(path):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        raise ValueError(f"no parquet parts under {os.path.basename(path)}")
    return sum(pq.read_metadata(f).num_rows for f in files)


def _dq_diff(got_path, want):
    if not os.path.exists(got_path):
        return f"missing {os.path.basename(got_path)}"
    with open(got_path) as f:
        got = json.load(f)
    for k in ("phase", "total_rows", "failed_rows_estimate", "nulls"):
        if got.get(k) != want[k]:
            return f"{os.path.basename(got_path)} {k}: got {got.get(k)!r} want {want[k]!r}"
    for r in DQ_RULES:
        g = (got.get("rules") or {}).get(r)
        if g != want["rules"][r]:
            return f"{os.path.basename(got_path)} rule {r}: got {g!r} want {want['rules'][r]!r}"
    if abs(got["conformity_rate"] - want["conformity_rate"]) > 1e-12:
        return (f"{os.path.basename(got_path)} conformity: got {got['conformity_rate']} "
                f"want {want['conformity_rate']}")
    return None


def _csv(path):
    with open(path, encoding="utf-8") as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    return lines[0].split(","), [l.split(",") for l in lines[1:]]


def _instant_us(text):
    t = text.strip().replace(" ", "T")
    if t.endswith("Z"):
        t = t[:-1] + "+00:00"
    d = dt.datetime.fromisoformat(t)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    delta = d - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def check_pipeline_op(rec, expected_path):
    """None if the op produced exactly the expected outputs, else a reason.
    A missing, unreadable or malformed output is a reason too, never an
    exception."""
    with open(expected_path) as f:
        exp = json.load(f)
    if rec.get("error"):
        return f"exception {rec['error']}"
    if rec.get("rc") != exp["exit_code"]:
        return f"exit code {rec.get('rc')} want {exp['exit_code']}"
    try:
        return _pipeline_outputs_diff(rec["data"], rec["curated"], exp)
    except (OSError, ValueError, KeyError, IndexError, TypeError, AttributeError) as e:
        return f"unreadable output: {type(e).__name__}: {e}"


def _pipeline_outputs_diff(data, cur, exp):
    err = _dq_diff(os.path.join(data, "dq_metrics_pre.json"), exp["dq_pre"])
    if err:
        return err
    if exp["pre_gate_failed"]:
        if _rows(os.path.join(data, "raw_snapshot")) != exp["rows"]:
            return "raw_snapshot row count"
        if os.path.exists(os.path.join(data, "dq_metrics_post.json")):
            return "post DQ written after a pre-gate failure"
        if glob.glob(os.path.join(cur, "*.csv")):
            return "curated export written after a pre-gate failure"
        return None
    err = _dq_diff(os.path.join(data, "dq_metrics_post.json"), exp["dq_post"])
    if err:
        return err
    if _rows(os.path.join(data, "stg_transactions")) != exp["staged_rows"]:
        return "stg_transactions row count"
    if _rows(os.path.join(data, "last_sale_per_address")) != exp["last_sale_rows"]:
        return "last_sale_per_address row count"
    if _rows(os.path.join(data, "top3_recent_sales_by_receiving")) != len(exp["top3"]):
        return "top3 parquet row count"

    hdr, rows = _csv(os.path.join(cur, "region_risk_avg.csv"))
    if hdr != ["location_region", "avg_risk_score"]:
        return f"region csv header {hdr}"
    want = exp["region_risk_avg"]
    if [r[0] for r in rows] != [w[0] for w in want]:
        return f"region order {[r[0] for r in rows]} want {[w[0] for w in want]}"
    for r, w in zip(rows, want):
        if not math.isclose(float(r[1]), w[1], rel_tol=1e-9, abs_tol=1e-12):
            return f"avg_risk_score[{r[0]}] {r[1]} want {w[1]}"

    hdr, rows = _csv(os.path.join(cur, "top3_recent_sales_by_receiving.csv"))
    if hdr != ["receiving_address", "amount", "timestamp"]:
        return f"top3 csv header {hdr}"
    if len(rows) != len(exp["top3"]):
        return f"top3 rows {len(rows)} want {len(exp['top3'])}"
    for r, (addr, amount, ts_us) in zip(rows, exp["top3"]):
        if (r[0] or None) != addr:
            return f"top3 address {r[0]!r} want {addr!r}"
        if float(r[1]) != amount:
            return f"top3 amount {r[1]} want {amount}"
        # CSV timestamps carry milliseconds; compare at that precision.
        if _instant_us(r[2]) // 1000 != ts_us // 1000:
            return f"top3 timestamp {r[2]} want {ts_us} us"
    return None


def files_under(*dirs):
    """Regular files below the given output directories."""
    return sum(len(fs) for d in dirs for _, _, fs in os.walk(d))


def rows_kept_ratio(data_dir):
    """Post-clean rows / ingested rows from the op's own DQ documents."""
    try:
        with open(os.path.join(data_dir, "dq_metrics_pre.json")) as f:
            pre = json.load(f)["total_rows"]
        with open(os.path.join(data_dir, "dq_metrics_post.json")) as f:
            post = json.load(f)["total_rows"]
    except (OSError, KeyError, ValueError):
        return 0.0
    return post / pre if pre else 0.0


def check_queries(sf_dir, dump_dir, dumps, res):
    """Map dump id -> reason, for every query result dumped under
    `dump_dir/<dump id>` (`dumps`: dump id -> query name) that differs from
    its oracle over the tables in `sf_dir`, or that has no oracle or no
    dump."""
    import duckdb
    import numpy as np
    import pandas as pd

    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for dump_id, name in sorted(dumps.items()):
        if dump_id in res["dump_errors"]:
            bad[dump_id] = f"result dump threw: {res['dump_errors'][dump_id]}"
            continue
        sql = res["oracle_sql"].get(name)
        if sql is None:
            bad[dump_id] = "no oracle SQL"
            continue
        try:
            want = con.sql(sql).df()
            got = pd.read_parquet(os.path.join(dump_dir, dump_id))
        except Exception as e:  # any oracle or read error fails the query
            bad[dump_id] = f"{type(e).__name__}: {e}"
            continue
        want = want[sorted(want.columns)]
        got = got[sorted(got.columns)]
        if list(want.columns) != list(got.columns):
            bad[dump_id] = f"columns {list(got.columns)} want {list(want.columns)}"
            continue
        if len(want) != len(got):
            bad[dump_id] = f"rows {len(got)} want {len(want)}"
            continue
        for c in want.columns:
            w, g = want[c].values, got[c].values
            if w.dtype != g.dtype and not (w.dtype.kind == "O" and g.dtype.kind == "O"):
                bad[dump_id] = f"{c} dtype {g.dtype} want {w.dtype}"
                break
            eq = (pd.isna(w) & pd.isna(g)) | pd.Series(w).eq(pd.Series(g)).values
            if not eq.all():
                i = int(np.argmin(eq))
                bad[dump_id] = f"{c}[row {i}] {g[i]!r} want {w[i]!r}"
                break
    return bad
