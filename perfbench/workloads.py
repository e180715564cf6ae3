"""Workload membership, input sizes, and the metrics computed from a run.

An op is one call into the engine, issued only after the previous one
finished (one closed-loop client). A pass is the workload's op list in a
seed-shuffled order; a run makes a fixed number of passes.
"""
import statistics
from collections import namedtuple

# pass_s: the nominal seconds of one pass on a 4-core box; a run makes
# round(seconds / pass_s) passes (at least one), so it measures about the
# requested time while every run of a workload has the same composition
Workload = namedtuple("Workload", "hrrp ops pass_s")

# registry tables: scale 1.0 is 600k lineitem rows; 0.01 matches the
# engine's sf0.01 test tables (60k lineitem, 500 documents/embeddings)
TABLE_SCALE = 0.01
HRRP_FACILITIES = 5000
SETUPS = 3

WORKLOADS = {
    "hrrp_etl": Workload(True, None, 5.0),
    "registry_mix": Workload(False, [
        "a4_group_mean", "f4_datetime", "j16_cbo_reorder", "o7_rank_family",
        "p8_profile", "q1_pricing_summary", "s16_stats_collect", "s19_rollup_stream",
        "s30_mv_rewrite", "s51_ndv_metastore", "u1_set_ops", "pipeline_e2e"], 15.0),
}

ARTIFACTS = ["knn_graph+landmarks", "span_report", "span_index_base", "span_index_appended",
             "knn_append_base", "host_rank", "host_keep_rates"]

# op_p90_s is printed in the summary line only: a run has 12-24 timed ops,
# too few to put ten samples beyond a 90th percentile
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s"}

# per-op means over the traced ops unless the name says otherwise
PER_OP = {
    "queries.build_s": "s", "queries.actions": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "driver.nojob_s": "s",
    "plans.exchanges": "count", "plans.sorts": "count", "plans.sort_aggregates": "count",
    "plans.broadcast_exchanges": "count", "plans.non_codegen_nodes": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_active_s": "s", "spark.task_wait_s": "s",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "ops.ingest_mb": "MB",
    "ops.ingest_records": "count", "ops.sink_mb": "MB", "ops.sink_write_s": "s",
    "streaming.batches": "count", "streaming.rows_in": "count",
    "spark.task_failures": "count", "spark.stage_retries": "count", "spark.gc_s": "s",
}
PER_BATCH = {"streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
             "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms"}
OTHER = {
    "pipeline.transform_build_ms": "ms", "pipeline.dash_load_s": "s",
    "pipeline.cache_fraction": "ratio", "pipeline.etl_s": "s",
    "pipeline.dash_p50_ms": "ms", "pipeline.dash_p90_ms": "ms",
    **{f"ext.artifact_s.{a.replace('+', '-')}": "s" for a in ARTIFACTS},
    "session.conf_diffs": "count", "jvm.heap_peak_mb": "MB", "trace.overhead_pct": "%",
}
PER_LAYER = {**PER_OP, **PER_BATCH, **OTHER}


def pct(xs, q):
    """Linear-interpolated percentile q in [0, 100] of a non-empty list."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def per_pass(execs, key, pass_ops):
    """One pass's total of `key`: sum over the pass's op list of each op's median."""
    by_op = {}
    for e in execs:
        if e[key] is not None:
            by_op.setdefault(e["op"], []).append(e[key])
    return sum(statistics.median(by_op[o]) for o in pass_ops if o in by_op)


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (start, end) ms intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def metrics(raw, mismatches, traced):
    execs = raw["execs"]
    failed_ops = {}
    for e in execs:
        why = (e["err"] or (f"conf leak: {e['conf_diff']}" if e["conf_diff"] else None)
               or mismatches.get(e["op"]))
        if why:
            failed_ops.setdefault(e["op"], why)
    for name, why in mismatches.items():
        failed_ops.setdefault(name, why)
    for name, diff in raw["verify_conf_diffs"].items():
        failed_ops.setdefault(name, f"conf leak (check pass): {diff}")
    failed = sum(1 for e in execs if e["err"] or e["conf_diff"] or e["op"] in mismatches)
    attempted = len(execs)
    pass_ops = [e["op"] for e in execs if e["pass"] == 0 and not (traced and e["traced"])]
    ok = [e for e in execs if not e["err"]]
    lat = [e["lat_s"] for e in execs]
    dash = [e["lat_s"] * 1e3 for e in execs if e["op"].startswith("dash_") and e["op"] != "dash_load"]
    etl = [e["lat_s"] for e in execs if e["op"] == "etl"]
    loads = [e["lat_s"] for e in execs if e["op"] == "dash_load"]
    conf_diffs = sum(len(e["conf_diff"]) for e in execs) + sum(
        len(d) for d in raw["verify_conf_diffs"].values())
    summary = {
        "workload": raw["workload"], "seed": raw["seed"], "cpus": raw["cpus"],
        "ops": raw["ops"] or sorted({e["op"] for e in execs}),
        "passes": 1 + max(e["pass"] for e in execs), "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, "failed_ops": failed_ops,
        "probe_ms": raw["probe_ms"], "jit_ms": raw["jit_ms"], "setup_s_each": raw["setup_s"],
        "traced": traced,
    }
    if traced:
        summary["untagged_jobs"] = sum(e["layers"].get("untagged_jobs", 0) for e in execs)
    e2e = {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": per_pass(ok, "lat_s", pass_ops),
        "op_p50_s": pct(lat, 50),
        "cpu_s": per_pass(ok, "cpu_s", pass_ops),
    }
    summary["op_p90_s"] = pct(lat, 90)
    if etl:
        summary.update(etl_s=statistics.median(etl), dash_p50_ms=pct(dash, 50),
                       dash_p90_ms=pct(dash, 90))
    if not traced:
        summary.update(e2e)
        m = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        return {"correct": not mismatches, "attempted": attempted, "failed": failed,
                "metrics": m}, summary

    tr = [e for e in execs if e["traced"]]
    n = len(tr)
    layer = {}
    for k in PER_OP:
        layer[k] = sum(e["layers"].get(k, 0.0) for e in tr) / n
    layer["queries.build_s"] = sum(e["build_s"] or 0.0 for e in tr) / n
    layer["spark.gc_s"] = sum(e["gc_s"] for e in tr) / n
    batches = sum(e["layers"].get("streaming.batches", 0.0) for e in tr)
    for k in PER_BATCH:
        layer[k] = sum(e["layers"].get(k, 0.0) for e in tr) / batches if batches else 0.0
    split = op_spans(raw["spans"])
    layer["driver.nojob_s"] = sum(n for _, n, _ in split) / len(split)
    layer["spark.job_active_s"] = sum(a for _, _, a in split) / len(split)
    for a in ARTIFACTS:
        layer[f"ext.artifact_s.{a.replace('+', '-')}"] = raw["trace_artifact_s"].get(a, 0.0)
    untr = [e for e in execs if not e["traced"]]
    wall_t, wall_u = per_pass([e for e in tr if not e["err"]], "lat_s", pass_ops), \
        per_pass([e for e in untr if not e["err"]], "lat_s", pass_ops)
    layer.update({
        "pipeline.transform_build_ms": statistics.median(raw["transform_build_ms"] or [0.0]),
        "pipeline.dash_load_s": statistics.median(loads or [0.0]),
        "pipeline.cache_fraction": statistics.mean(raw["cache_fraction"] or [0.0]),
        "pipeline.etl_s": statistics.median(etl or [0.0]),
        "pipeline.dash_p50_ms": pct(dash, 50) if dash else 0.0,
        "pipeline.dash_p90_ms": pct(dash, 90) if dash else 0.0,
        "session.conf_diffs": conf_diffs, "jvm.heap_peak_mb": raw["heap_peak_mb"],
        "trace.overhead_pct": (wall_t / wall_u - 1.0) * 100.0 if wall_u else 0.0,
    })
    by_name = {}
    for name, nojob, active in split:
        by_name.setdefault(name, []).append((nojob, active))
    summary["per_op_split"] = {
        k: {"nojob_s": round(statistics.median(v[0] for v in vs), 4),
            "job_active_s": round(statistics.median(v[1] for v in vs), 4)}
        for k, vs in sorted(by_name.items())}
    m = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    return {"correct": not mismatches, "attempted": attempted, "failed": failed,
            "metrics": m}, summary


def op_spans(spans):
    """(op name, seconds outside any job, seconds inside one) per traced op:
    the op span's self time with respect to its job spans."""
    ops, jobs = {}, {}
    for sid, parent, op, name, s, e in spans:
        if parent == 0:
            ops[sid] = (name, s, e)
        elif name.startswith("job "):
            jobs.setdefault(op, []).append((s, e))
    out = []
    for sid, (name, s, e) in ops.items():
        active = union_s(jobs.get(sid, []), s, e)
        out.append((name, (e - s) / 1e3 - active, active))
    return out
