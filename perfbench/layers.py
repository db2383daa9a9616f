"""Per-layer metrics and spans of the traced run.

The harness records, for every traced op, the op's wall and one record per
Spark job (call site, start, end, task metrics of the stages it ran) plus
the query executions' planning-phase times. This module turns those into:

* spans — name, start, end, parent, op id — for every op, pipeline stage
  (or query build/consume) and Spark job, each with its self time;
* the per-layer metrics named in BENCHMARK.json, as per-op means.

Pipeline jobs are assigned to a stage by their call site: the source file
of the first program frame, and for the two DQ profiles the line in
`Pipeline.run` that called them (the earlier call is the pre-gate). A job
that matches no stage goes to the `unattributed` bucket, so no job drops
out of the totals.
"""
import re
import statistics

STAGES = ("ingest", "dq_pre", "clean", "dq_post", "publish")
STAGE_COUNTERS = ("s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")
_RUN_LINE = re.compile(r"graft\.core\.Pipeline\$\.run\(Pipeline\.scala:(\d+)\)")


def _kind(site):
    if "Timestamps.scala" in site:
        return "clean"
    if "Quality.scala" in site:
        return "dq"
    if "Io.scala" in site or "Pipeline$.publish" in site:
        return "publish"
    if "Pipeline$.ingestCsv" in site:
        return "ingest"
    if "Pipeline$.run" in site and "DataFrameWriter" in site:
        return "publish"  # the raw snapshot written before a pre-gate failure
    return None


def assign_stages(jobs):
    """Stage name (or None) for each job of one pipeline op."""
    kinds = [_kind(j["site"]) for j in jobs]
    dq_lines = sorted({int(m.group(1)) for j, k in zip(jobs, kinds) if k == "dq"
                       for m in [_RUN_LINE.search(j["site"])] if m})
    out = []
    for j, k in zip(jobs, kinds):
        if k == "dq":
            m = _RUN_LINE.search(j["site"])
            k = "dq_pre" if m and dq_lines and int(m.group(1)) == dq_lines[0] else "dq_post"
        out.append(k)
    return out


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def _job_span(j, op_id, parent):
    return {"name": f"job:{j['site_short']}", "start_ms": j["start_ms"], "end_ms": j["end_ms"],
            "parent": parent, "op": op_id}


def op_spans(rec, op_id, workload):
    """Spans of one traced op, children after parents, with self times."""
    t = rec["trace"]
    jobs = sorted(t["jobs"], key=lambda j: j["start_ms"])
    op = {"name": f"op:{rec['key']}", "start_ms": rec["start_ms"], "end_ms": rec["end_ms"],
          "parent": None, "op": op_id}
    spans, children = [op], {}
    if workload == "query_mix":
        mid = rec["start_ms"] + round(rec.get("build_s", 0.0) * 1000)
        for name, s, e in (("build", rec["start_ms"], mid), ("consume", mid, rec["end_ms"])):
            sp = {"name": name, "start_ms": s, "end_ms": e, "parent": op["name"], "op": op_id}
            spans.append(sp)
            children[name] = [j for j in jobs if s <= j["start_ms"] < e or
                              (name == "consume" and j["start_ms"] >= e)]
    else:
        stages = assign_stages(jobs)
        prev_end = rec["start_ms"]
        for st in STAGES:
            mine = [j for j, s in zip(jobs, stages) if s == st]
            if not mine:
                continue
            end = rec["end_ms"] if st == "publish" else max(j["end_ms"] for j in mine)
            spans.append({"name": st, "start_ms": prev_end, "end_ms": end,
                          "parent": op["name"], "op": op_id})
            children[st] = mine
            prev_end = end
        children["unattributed"] = [j for j, s in zip(jobs, stages) if s is None]
    for sp in spans[1:]:
        for j in children.get(sp["name"], []):
            spans.append(_job_span(j, op_id, sp["name"]))
    for j in children.get("unattributed", []):
        spans.append(_job_span(j, op_id, op["name"]))
    for sp in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in spans
                if c["parent"] == sp["name"] and c["op"] == op_id and c is not sp]
        dur = sp["end_ms"] - sp["start_ms"]
        sp["self_ms"] = dur - _covered(kids, sp["start_ms"], sp["end_ms"])
    return spans


def per_layer(workload, recs, cores):
    """(metrics, spans) of a traced run; metrics map name -> (value, unit)."""
    traced = [r for r in recs if r.get("traced")]
    n = max(1, len(traced))
    spans, stage_tot = [], {st: dict.fromkeys(STAGE_COUNTERS, 0.0) for st in STAGES}
    eng = dict.fromkeys(("analysis_s", "optimization_s", "planning_s", "jobs", "stages",
                         "tasks", "run_s", "cpu_s", "gc_s", "peak_mem", "shuffle", "spill"), 0.0)
    busy_ratios, unattributed_ms, job_ms = [], 0, 0
    bytes_read = bytes_written = 0
    for i, r in enumerate(traced):
        t = r["trace"]
        jobs = t["jobs"]
        sp = op_spans(r, i, workload)
        spans.extend(sp)
        eng["analysis_s"] += t["analysis_ms"] / 1e3
        eng["optimization_s"] += t["optimization_ms"] / 1e3
        eng["planning_s"] += t["planning_ms"] / 1e3
        eng["jobs"] += len(jobs)
        eng["stages"] += t["stages_completed"]
        run_ms = sum(j["run_ms"] for j in jobs)
        eng["tasks"] += sum(j["tasks"] for j in jobs)
        eng["run_s"] += run_ms / 1e3
        eng["cpu_s"] += sum(j["cpu_ns"] for j in jobs) / 1e9
        eng["gc_s"] += sum(j["gc_ms"] for j in jobs) / 1e3
        eng["peak_mem"] += max([j["peak_mem"] for j in jobs] or [0])
        eng["shuffle"] += sum(j["shuffle_bytes"] for j in jobs)
        eng["spill"] += sum(j["spill_bytes"] for j in jobs)
        busy_ratios.append(run_ms / 1e3 / (r["wall_s"] * cores))
        job_ms += sum(j["end_ms"] - j["start_ms"] for j in jobs)
        if workload != "query_mix":
            for j, st in zip(sorted(jobs, key=lambda j: j["start_ms"]),
                             assign_stages(sorted(jobs, key=lambda j: j["start_ms"]))):
                if st is None:
                    unattributed_ms += j["end_ms"] - j["start_ms"]
                    continue
                c = stage_tot[st]
                c["jobs"] += 1
                c["tasks"] += j["tasks"]
                c["cpu_s"] += j["cpu_ns"] / 1e9
                c["gc_s"] += j["gc_ms"] / 1e3
                c["shuffle_bytes"] += j["shuffle_bytes"]
                c["spill_bytes"] += j["spill_bytes"]
                if st == "ingest":
                    bytes_read += j["bytes_read"]
                if st == "publish":
                    bytes_written += j["bytes_written"]
            for s in sp:
                if s["name"] in STAGES and s["parent"] == f"op:{r['key']}":
                    stage_tot[s["name"]]["s"] += (s["end_ms"] - s["start_ms"]) / 1e3

    m = {}
    units = {"s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s", "gc_s": "s",
             "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    for st in STAGES:
        for c in STAGE_COUNTERS:
            m[f"core.{st}.{c}"] = (stage_tot[st][c] / n, units[c])
    pipe = workload != "query_mix"
    m["core.ingest.bytes_read"] = (bytes_read / n, "bytes")
    m["core.publish.bytes_written"] = (bytes_written / n, "bytes")
    m["core.publish.files_written"] = (
        statistics.mean(r.get("files_written", 0) for r in traced) if pipe and traced else 0.0,
        "count")
    m["core.clean.rows_kept_ratio"] = (
        statistics.mean(r.get("rows_kept_ratio", 0.0) for r in traced) if pipe and traced else 0.0,
        "ratio")
    m["core.unattributed.jobs"] = (
        sum(1 for s in spans if s["parent"] and s["parent"].startswith("op:")
            and s["name"].startswith("job:")) / n if pipe else 0.0, "count")
    m["trace.unattributed_share"] = (unattributed_ms / job_ms if job_ms else 0.0, "ratio")
    for k, unit in (("analysis_s", "s"), ("optimization_s", "s"), ("planning_s", "s")):
        m[f"spark.plan.{k}"] = (eng[k] / n, unit)
    m["spark.sched.jobs"] = (eng["jobs"] / n, "count")
    m["spark.sched.stages"] = (eng["stages"] / n, "count")
    m["spark.sched.tasks"] = (eng["tasks"] / n, "count")
    m["spark.exec.run_s"] = (eng["run_s"] / n, "s")
    m["spark.exec.cpu_s"] = (eng["cpu_s"] / n, "s")
    m["spark.exec.gc_s"] = (eng["gc_s"] / n, "s")
    m["spark.exec.peak_mem_bytes"] = (eng["peak_mem"] / n, "bytes")
    m["spark.exec.core_busy_ratio"] = (
        statistics.median(busy_ratios) if busy_ratios else 0.0, "ratio")
    m["spark.shuffle.bytes"] = (eng["shuffle"] / n, "bytes")
    m["spark.spill.bytes"] = (eng["spill"] / n, "bytes")
    qrecs = [r for r in recs if "build_s" in r]
    m["queries.build_s"] = (statistics.mean(r["build_s"] for r in qrecs) if qrecs else 0.0, "s")
    m["queries.consume_s"] = (
        statistics.mean(r["consume_s"] for r in qrecs) if qrecs else 0.0, "s")
    m["core.memo.build_s"] = (sum(r.get("memo_s", 0.0) for r in recs), "s")
    # Tracing overhead per op key (its traced warm executions against its
    # untraced ones), then the median over keys, so the query mix cancels.
    walls = {}
    for r in recs:
        if r["pass"] > 0:
            walls.setdefault(r["key"], ([], []))[0 if r.get("traced") else 1].append(r["wall_s"])
    ratios = [statistics.median(t) / statistics.median(u) for t, u in walls.values() if t and u]
    m["trace.overhead_ratio"] = (statistics.median(ratios) - 1.0 if ratios else 0.0, "ratio")
    m["trace.traced_ops"] = (float(len(traced)), "count")
    return m, spans
