#!/usr/bin/env python3
"""The repository's benchmark: one command builds the program from source,
generates a workload's inputs from a seed, runs it closed-loop with one
client through the program's public entry points, checks every output and
prints each metric by name and unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 is the separate traced
run and prints the per-layer metrics (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import fraudgen  # noqa: E402
import layers  # noqa: E402
import tablegen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")

# ---- workload sizing (see README.md "Sizing") ------------------------------
BATCH_ROWS = 100_000
WARMUP_ROWS = 200
QUERY_SCALE = 0.01
WARMUP_SCALE = 0.001
# A fixed sample of SparkEntry.queries: the seven reference queries and
# x189, whose stream input is a MemoMeter-timed memo build. The seed orders
# them; it does not pick them, so every seed measures the same work.
QUERY_SAMPLE = (
    "r1_clean_standardize", "r2_dq_profile", "r3_dedup_keep_first", "r4_group_avg",
    "r5_latest_per_key", "r6_topk", "r7_epoch_roundtrip", "x189_state_inspect",
)
# Passes of the op list each run makes at least: the first is the cold
# pass, the rest are warm. A query pass is short and the walls of its
# sub-second queries are noisy on a shared 4-core box, so query_mix makes
# five warm passes (40 warm samples) where the batch makes two. A traced
# run makes four warm passes, so every op is traced in two warm executions
# and untraced in two (see Harness.scala).
MIN_PASSES = {"pipeline_batch": 3, "query_mix": 6}
TRACE_PASSES = 5
# Seconds the harness JVM may take, set-up and checks included, so that a
# run ends within three minutes of its build.
JVM_LIMIT_S = 165

WORKLOADS = tuple(MIN_PASSES)

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """The benchmark itself could not run; exit nonzero without a result."""


def log(msg):
    print(msg, flush=True)


# ---- machine fit -------------------------------------------------------------

def machine():
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    # Same heap formula as the tier-1 test command: MemTotal / 2 GiB, in [2, 8] g.
    heap_g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    heap_g = min(8, max(2, int(int(line.split()[1]) / 2097152)))
    except OSError:
        pass
    return {"nproc": nproc, "cores": max(1, min(nproc, 4)), "heap": f"{heap_g}g"}


# ---- build -------------------------------------------------------------------

def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness (once per source state); return
    the runtime classpath."""
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft", "core", "PipelineMain.scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            raise BenchError(f"no program source at {p}: run from a checkout of the repository")
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, f"classpath-{_source_digest()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=850)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise BenchError(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


# ---- inputs ------------------------------------------------------------------

def make_inputs(workload, seed, work):
    """Generate the workload's inputs under `work`; return (warmup, ops,
    extra) where ops are plan entries and extra carries what the checks
    need."""
    inputs = os.path.join(work, "inputs")
    if workload == "pipeline_batch":
        def op(key, rows, s):
            csv_path, exp_path = fraudgen.write(os.path.join(inputs, key), rows, s)
            return {"key": key, "csv": csv_path, "pre": fraudgen.PRE_DEFAULT,
                    "post": fraudgen.POST_DEFAULT, "expected": exp_path, "rows": rows,
                    "bytes": os.path.getsize(csv_path)}
        return op("warmup", WARMUP_ROWS, seed + 1_000_003), [op("batch", BATCH_ROWS, seed)], {}
    sf = os.path.join(inputs, "sf")
    tiny = os.path.join(inputs, "sf_tiny")
    tablegen.write(sf, QUERY_SCALE, seed)
    tablegen.write(tiny, WARMUP_SCALE, seed + 1_000_003)
    order = list(QUERY_SAMPLE)
    random.Random(seed).shuffle(order)
    ops = [{"key": q} for q in order]
    warm = {"key": "r4_group_avg", "sf_dir": tiny}
    return warm, ops, {"sf_dir": sf, "rows": tablegen.row_count(sf), "bytes": tablegen.byte_count(sf)}


# ---- JVM ---------------------------------------------------------------------

def java_cmd(cp, m, plan_path, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{m['heap']}", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Harness", plan_path]


def run_jvm(cmd, log_path, deadline):
    """Run one harness JVM to its end; return the seconds from its start to
    READY. A watchdog kills it at `deadline`, so a hung JVM cannot outlive
    the run."""
    with open(log_path, "ab") as lf:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, cwd=ROOT)
    watchdog = threading.Timer(max(0.0, deadline - time.monotonic()), p.kill)
    watchdog.start()
    try:
        setup_s, done = None, False
        for line in p.stdout:
            line = line.strip()
            if line == b"READY" and setup_s is None:
                setup_s = time.perf_counter() - t0
            done = done or line == b"DONE"
        rc = p.wait()
        if time.monotonic() >= deadline:
            raise BenchError(f"harness JVM exceeded its time limit; see {log_path}")
        if rc != 0 or not done or setup_s is None:
            raise BenchError(f"harness JVM failed (exit {rc}); see {log_path}")
        return setup_s
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
        p.wait()
        p.stdout.close()


# ---- checks ------------------------------------------------------------------

def check(workload, recs, res, warmup, ops, extra, dump_dir):
    """One message per failed op, the warm-up op included."""
    if workload == "query_mix":
        # Each op is checked through its query's result dump; the warm-up
        # query has its own, over its own tables.
        bad = checks.check_queries(extra["sf_dir"], dump_dir, {o["key"]: o["key"] for o in ops}, res)
        bad.update(checks.check_queries(warmup["sf_dir"], dump_dir, {"warmup": warmup["key"]}, res))
        ran = [("warm-up", "warmup", res["warmup"])] + \
            [(f"{r['key']} op {i}", r["key"], r) for i, r in enumerate(recs)]
        return [f"{label}: {r.get('error') or bad[dump]}"
                for label, dump, r in ran if r.get("error") or dump in bad]
    expected = {o["key"]: o["expected"] for o in ops}
    expected["warmup"] = warmup["expected"]
    problems = []
    for i, r in enumerate([res["warmup"]] + recs):
        err = checks.check_pipeline_op(r, expected[r["key"]])
        if err:
            problems.append(f"{r['key']} op {i}: {err}")
        r["files_written"] = checks.files_under(r["data"], r["curated"])
        r["rows_kept_ratio"] = checks.rows_kept_ratio(r["data"])
    return problems


# ---- main --------------------------------------------------------------------

def run(workload, seed, seconds, trace):
    t_start = time.monotonic()
    cp = build()
    # The time limit starts after the build: a first build may take minutes.
    deadline = time.monotonic() + JVM_LIMIT_S
    m = machine()
    work = os.path.join(WORK, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    phases = {"build": time.monotonic() - t_start}
    warmup, ops, extra = make_inputs(workload, seed, work)
    phases["inputs"] = time.monotonic() - t_start - sum(phases.values())
    plan = {
        "workload": workload, "cores": m["cores"], "seconds": seconds, "trace": bool(trace),
        "work": work, "warmup": warmup, "ops": ops,
        "min_passes": TRACE_PASSES if trace else MIN_PASSES[workload],
        "sf_dir": extra.get("sf_dir", ""), "dump_dir": os.path.join(work, "dump"),
        "out": os.path.join(work, "result.json"),
    }
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(work, "jvm.log")
    setup_s = run_jvm(java_cmd(cp, m, plan_path, work), log_path, deadline)
    phases["jvm"] = time.monotonic() - t_start - sum(phases.values())
    with open(plan["out"]) as f:
        res = json.load(f)

    # ---- checks, outside the timed region ---------------------------------
    recs = res["ops"]
    problems = check(workload, recs, res, warmup, ops, extra, plan["dump_dir"])
    attempted = len(recs) + 1  # the warm-up op counts too
    failed = len(problems)
    for msg in problems[:20]:
        log(f"FAIL {msg}")

    # ---- metrics ----------------------------------------------------------
    cold_recs = [r for r in recs if r["pass"] == 0]
    warm_recs = [r for r in recs if r["pass"] > 0] or cold_recs
    cold = [r["wall_s"] for r in cold_recs]
    warm = [r["wall_s"] for r in warm_recs]
    info = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": m["nproc"], "cores": m["cores"], "heap": m["heap"],
        "max_heap_bytes": res["max_heap_bytes"], "jdk": res["java_version"],
        "spark": res["spark_version"],
        "input_rows": sum(o.get("rows", 0) for o in ops) or extra.get("rows", 0),
        "input_bytes": sum(o.get("bytes", 0) for o in ops) or extra.get("bytes", 0),
        "ops": len(recs), "cold_ops": len(cold), "warm_ops": len(warm),
        "passes": 1 + max(r["pass"] for r in recs),
        "wall_s": round(sum(r["wall_s"] for r in recs), 4),
        "fail_ratio": f"{failed / attempted:.4f} ({failed}/{attempted})",
    }
    if workload != "query_mix":
        rows = {o["key"]: o.get("rows", 0) for o in ops}
        info["rows_per_s"] = round(sum(rows[r["key"]] for r in warm_recs) / sum(warm), 1)
    phases["checks"] = time.monotonic() - t_start - sum(phases.values())
    info["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
    log("INFO " + json.dumps(info, sort_keys=True))

    if trace:
        metrics, spans = layers.per_layer(workload, recs, m["cores"])
        metrics["jvm.peak_rss_mb"] = (res["vm_hwm_kb"] / 1024.0, "MB")
        trace_path = os.path.join(WORK, f"trace-{workload}.json")
        with open(trace_path, "w") as f:
            json.dump({"info": info, "spans": spans}, f)
        log(f"INFO trace spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(warm), "s"),
            "cold_wall_s": (sum(cold), "s"),
        }
    for name, (value, unit) in metrics.items():
        log(f"METRIC {name} {value:.6g} {unit}")
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    shutil.rmtree(plan["dump_dir"], ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
