#!/usr/bin/env python3
"""Seeded generator for the dirty fraud-transaction CSV (FIXTURES.md §A),
with the pipeline's expected outputs derived by construction.

The file has the reference's six columns. Base rows have unique timestamps
and unique amounts, so keep-first dedup, "latest sale per address" and the
top-3 by amount have exactly one right answer. On top of them it injects
a chosen share of rule-breaking rows, a chosen share of rows that only
dirty the non-rule columns, and duplicate composite keys placed after their
originals. Because the generator knows which rows it dirtied, it can write
what `Pipeline.run` must produce: both DQ documents, the region averages,
the top-3 rows and the CLI exit code.

    python3 perfbench/fraudgen.py --rows 5000 --seed 7 --encoding ms \
        --gate pass --out /tmp/fraud

writes `/tmp/fraud/input.csv` and `/tmp/fraud/expected.json`. The same
arguments give byte-identical files.
"""
import argparse
import datetime as dt
import json
import os

import numpy as np

ENCODINGS = ("s", "ms", "us", "ns", "datetime")
GATES = ("pass", "pre_fail", "post_fail")
HEADER = "timestamp,transaction_type,amount,receiving_address,location_region,risk_score"

# Region → base risk. Bases sit 0.2 apart and the noise is under 0.05, so
# the descending order of the region averages is never in doubt.
REGIONS = (("north", 0.1), ("south", 0.3), ("east", 0.5), ("west", 0.7), ("central", 0.9))
TYPES = ("sale", "refund", "transfer", "purchase")
TYPE_P = (0.5, 0.2, 0.15, 0.15)
T0_US = 1_700_000_000 * 1_000_000  # 2023-11-14T22:13:20Z
# Seconds between consecutive base rows; sub-step jitter keeps them unique.
STEP_S = 2

# Rule-breaking dirt: each row breaks exactly one pre-gate rule.
RULE_DIRT = ("null_timestamp", "null_type", "null_amount", "bad_amount", "negative_amount")
# Dirt that breaks no rule but must still be cleaned.
SOFT_DIRT = ("null_address", "zero_region", "blank_region", "bad_risk")

PRE_DEFAULT = 0.98
POST_DEFAULT = 0.995


def _ts_text(enc, us):
    if enc == "s":
        return str(us // 1_000_000)
    if enc == "ms":
        return str(us // 1_000)
    if enc == "us":
        return str(us)
    if enc == "ns":
        return str(us * 1_000)
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _instant_us(enc, us):
    """The instant the pipeline must parse from `_ts_text(enc, us)`."""
    if enc in ("s", "datetime"):
        return us // 1_000_000 * 1_000_000
    if enc == "ms":
        return us // 1_000 * 1_000
    return us


def generate(rows, seed, encoding="ms", gate="pass", dirt=0.01, soft_dirt=0.01,
             dup=0.02, skew=1.1):
    """Return (csv_text, expected) for one file.

    rows       data lines in the file (duplicates included)
    dirt       share of rule-breaking rows; a `pre_fail` file uses 5x this
    soft_dirt  share of rows dirty only in non-rule columns
    dup        share of rows that repeat an earlier row's composite key
    skew       Zipf exponent of `receiving_address`
    """
    if encoding not in ENCODINGS:
        raise ValueError(f"encoding must be one of {ENCODINGS}")
    if gate not in GATES:
        raise ValueError(f"gate must be one of {GATES}")
    if rows < 20:
        raise ValueError("rows must be at least 20")
    rng = np.random.default_rng(seed)
    n_dup = int(round(rows * dup))
    n_base = rows - n_dup
    rule_share = dirt * (5 if gate == "pre_fail" else 1)
    n_rule = int(round(rows * rule_share))
    n_soft = int(round(rows * soft_dirt))
    if n_rule + n_soft > n_base // 2:
        raise ValueError("too much dirt for this many rows")

    # ---- base rows --------------------------------------------------------
    step_us = STEP_S * 1_000_000
    ts_us = T0_US + np.arange(n_base, dtype=np.int64) * step_us \
        + rng.integers(0, step_us, n_base, dtype=np.int64)
    n_addr = max(20, n_base // 20)
    w = 1.0 / np.arange(1, n_addr + 1, dtype=np.float64) ** skew
    addr_id = np.searchsorted(np.cumsum(w) / w.sum(), rng.random(n_base), side="right")
    addr_id = np.minimum(addr_id, n_addr - 1)
    addr_names = rng.permutation(n_addr)
    type_id = rng.choice(len(TYPES), n_base, p=TYPE_P)
    type_style = rng.integers(0, 10, n_base)   # 0: padded Title, 1: UPPER
    addr_pad = rng.integers(0, 30, n_base)      # 0: padded
    cents = rng.choice(20 * n_base, n_base, replace=False) + 100
    region_id = rng.integers(0, len(REGIONS), n_base)
    noise = rng.integers(0, 500, n_base)        # risk noise in 1e-4 steps

    # dirt assignment over distinct base rows
    dirty_rows = rng.choice(n_base, n_rule + n_soft, replace=False)
    rule_kind = {int(r): RULE_DIRT[int(k)] for r, k in
                 zip(dirty_rows[:n_rule], rng.integers(0, len(RULE_DIRT), n_rule))}
    soft_kind = {int(r): SOFT_DIRT[int(k)] for r, k in
                 zip(dirty_rows[n_rule:], rng.integers(0, len(SOFT_DIRT), n_soft))}
    null_addr_token = rng.choice(["", "nan", "None"], n_base)

    base = []  # per row: raw fields + parsed truth
    for j in range(n_base):
        us = int(ts_us[j])
        typ = TYPES[type_id[j]]
        style = type_style[j]
        raw_type = f" {typ.title()} " if style == 0 else (typ.upper() if style == 1 else typ)
        addr = f"addr{int(addr_names[addr_id[j]]):06d}"
        raw_addr = f" {addr} " if addr_pad[j] == 0 else addr
        c = int(cents[j])
        raw_amount = f"{c // 100}.{c % 100:02d}"
        region, risk_base = REGIONS[region_id[j]]
        risk = risk_base + int(noise[j]) / 10000.0
        raw_region = region
        raw_risk = f"{risk:.4f}"
        row = {
            "ts": _ts_text(encoding, us), "type": raw_type, "amount": raw_amount,
            "addr": raw_addr, "region": raw_region, "risk": raw_risk,
            # parsed truth (what clean() must make of the row)
            "t": _instant_us(encoding, us), "ct": typ, "a": c / 100.0,
            "ca": addr, "cr": region, "r": risk,
            # pre-gate truth (null flags on the RAW frame)
            "pre_null": set(), "neg": False,
        }
        kind = rule_kind.get(j)
        if kind == "null_timestamp":
            row["ts"], row["t"] = "", None
            row["pre_null"].add("timestamp")
        elif kind == "null_type":
            row["type"], row["ct"] = "", None
            row["pre_null"].add("transaction_type")
        elif kind == "null_amount":
            row["amount"], row["a"] = "", None
            row["pre_null"].add("amount")
        elif kind == "bad_amount":
            row["amount"], row["a"] = "abc", None
            row["pre_null"].add("amount")
        elif kind == "negative_amount":
            row["amount"] = f"-{raw_amount}"
            row["a"], row["neg"] = -c / 100.0, True
        kind = soft_kind.get(j)
        if kind == "null_address":
            row["addr"], row["ca"] = str(null_addr_token[j]), None
            row["pre_null"].add("receiving_address")
        elif kind == "zero_region":
            row["region"], row["cr"] = "0", None
        elif kind == "blank_region":
            row["region"], row["cr"] = "", None
            row["pre_null"].add("location_region")
        elif kind == "bad_risk":
            row["risk"], row["r"] = "n/a", None
            row["pre_null"].add("risk_score")
        base.append(row)

    # ---- duplicates: same composite key, later in the file ---------------
    clean_rows = np.array([j for j in range(n_base)
                           if j not in rule_kind and j not in soft_kind], dtype=np.int64)
    src = rng.choice(clean_rows, n_dup, replace=True)
    order_key = [float(j) for j in range(n_base)]
    dups = []
    for s in src:
        s = int(s)
        o = base[s]
        region, risk_base = REGIONS[int(rng.integers(0, len(REGIONS)))]
        risk = risk_base + int(rng.integers(0, 500)) / 10000.0
        d = dict(o, region=region, risk=f"{risk:.4f}", cr=region, r=risk,
                 pre_null=set(), neg=False)
        dups.append(d)
        order_key.append(s + float(rng.uniform(0.01, n_base - s)))
    all_rows = base + dups
    file_order = sorted(range(len(all_rows)), key=lambda i: (order_key[i], i))
    ordered = [all_rows[i] for i in file_order]

    lines = [HEADER]
    lines.extend(",".join((r["ts"], r["type"], r["amount"], r["addr"], r["region"], r["risk"]))
                 for r in ordered)
    csv_text = "\n".join(lines) + "\n"
    return csv_text, _expected(ordered, gate)


def _expected(rows, gate):
    pre_thr = PRE_DEFAULT
    post_thr = 1.01 if gate == "post_fail" else POST_DEFAULT
    total = len(rows)
    cols = ("timestamp", "transaction_type", "amount", "receiving_address",
            "location_region", "risk_score")
    pre_nulls = {c: sum(1 for r in rows if c in r["pre_null"]) for c in cols}
    neg = sum(1 for r in rows if r["neg"])
    pre = _dq("pre_clean", total, pre_nulls, {
        "timestamp_not_null": pre_nulls["timestamp"],
        "transaction_type_not_null": pre_nulls["transaction_type"],
        "amount_not_null": pre_nulls["amount"],
        "amount_non_negative": neg})
    exp = {"rows": total, "pre_threshold": pre_thr, "post_threshold": post_thr,
           "dq_pre": pre}
    if pre["conformity_rate"] < pre_thr:
        exp.update(exit_code=2, pre_gate_failed=True)
        return exp

    seen, kept = set(), []
    for r in rows:
        if r["t"] is None or r["ct"] is None or r["a"] is None or r["a"] < 0:
            continue
        key = (r["t"], r["ca"], r["ct"], r["a"])
        if key in seen:
            continue
        seen.add(key)
        kept.append(r)
    post_nulls = {"timestamp": 0, "transaction_type": 0, "amount": 0,
                  "receiving_address": sum(1 for r in kept if r["ca"] is None),
                  "location_region": sum(1 for r in kept if r["cr"] is None),
                  "risk_score": sum(1 for r in kept if r["r"] is None)}
    post = _dq("post_clean", len(kept), post_nulls, {
        "timestamp_not_null": 0, "transaction_type_not_null": 0,
        "amount_not_null": 0, "amount_non_negative": 0})

    sums = {}
    for r in kept:
        if r["cr"] is not None and r["r"] is not None:
            s = sums.setdefault(r["cr"], [0.0, 0])
            s[0] += r["r"]
            s[1] += 1
    region_avg = sorted(([k, v[0] / v[1]] for k, v in sums.items()),
                        key=lambda kv: -kv[1])

    latest = {}
    for r in kept:
        if r["ct"] != "sale":
            continue
        cur = latest.get(r["ca"])
        if cur is None or r["t"] > cur["t"]:
            latest[r["ca"]] = r
    top3 = sorted(latest.values(), key=lambda r: -r["a"])[:3]
    exp.update(
        exit_code=2 if post["conformity_rate"] < post_thr else 0,
        pre_gate_failed=False,
        dq_post=post,
        staged_rows=len(kept),
        last_sale_rows=len(latest),
        region_risk_avg=region_avg,
        top3=[[r["ca"], r["a"], r["t"]] for r in top3])
    return exp


def _dq(phase, total, nulls, rules):
    fails = sum(rules.values())
    return {"phase": phase, "total_rows": total, "nulls": nulls,
            "rules": {k: {"violations": v} for k, v in rules.items()},
            "failed_rows_estimate": fails,
            "conformity_rate": max(0.0, 1.0 - fails / (total + 1e-9))}


def write(out_dir, rows, seed, **kw):
    """Write input.csv and expected.json under `out_dir`; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    text, exp = generate(rows, seed, **kw)
    csv_path = os.path.join(out_dir, "input.csv")
    exp_path = os.path.join(out_dir, "expected.json")
    with open(csv_path, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    with open(exp_path, "w", encoding="utf-8") as f:
        json.dump(exp, f, sort_keys=True)
    return csv_path, exp_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--encoding", choices=ENCODINGS, default="ms")
    ap.add_argument("--gate", choices=GATES, default="pass")
    ap.add_argument("--dirt", type=float, default=0.01)
    ap.add_argument("--soft-dirt", type=float, default=0.01)
    ap.add_argument("--dup", type=float, default=0.02)
    ap.add_argument("--skew", type=float, default=1.1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    csv_path, exp_path = write(a.out, a.rows, a.seed, encoding=a.encoding, gate=a.gate,
                               dirt=a.dirt, soft_dirt=a.soft_dirt, dup=a.dup, skew=a.skew)
    print(csv_path)
    print(exp_path)


if __name__ == "__main__":
    main()
