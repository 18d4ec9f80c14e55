"""Turns one raw run record (written by graft.perfbench.Main) into the
benchmark's metrics. Pure functions of the record, so they are unit-tested
in test_metrics.py without Spark."""

import json
import math
import statistics

def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values`, nearest rank. Refuses
    (ValueError) when fewer than 10 samples lie beyond it, since such a
    tail is not measured, only guessed."""
    n = len(values)
    if round(n * (1 - q), 9) < 10:
        raise ValueError(f"p{q * 100:g} needs at least 10 samples beyond it; {n} samples give {n * (1 - q):g}")
    return sorted(values)[max(0, math.ceil(round(q * n, 9)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> duration minus the part of it that its children cover.
    Children may overlap each other (concurrent Spark jobs); overlap is
    counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def descendants(spans, root_id):
    """Every span below `root_id` in the parent tree."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


# ---------------------------------------------------------------- workloads

def _query_pack(raw, traced):
    ops = [o for o in raw["ops"] if o["traced"] == traced]
    per_query = {}
    for o in ops:
        per_query.setdefault(o["name"], []).append(o["build_s"] + o["exec_s"])
    medians = {n: median(v) for n, v in per_query.items()}
    total = sum(medians.values())
    samples = [t for v in per_query.values() for t in v]
    extra = {"queries": len(medians), "pack_total_s": total, "samples": len(samples),
             "query_median_s": medians}
    for q in (0.5, 0.9):
        try:
            extra[f"query_p{q * 100:g}_s"] = percentile(samples, q)
        except ValueError as e:
            extra[f"query_p{q * 100:g}_s"] = str(e)
    # The pack mixes queries of different cost, so the median sample jumps
    # between neighbouring queries; the geometric mean of the per-query
    # medians weighs every query's relative change alike and holds still.
    return {"latency_ms": statistics.geometric_mean(medians.values()) * 1000,
            "throughput_per_s": len(medians) / total}, extra


def _wordcount(raw, traced):
    jobs = [j["total_s"] for j in raw["jobs"] if j["traced"] == traced]
    p50 = percentile(jobs, 0.5)
    return ({"latency_ms": p50 * 1000, "throughput_per_s": raw["lines"] / p50},
            {"jobs": len(jobs), "wc_mb_per_s": raw["input_bytes"] / 1e6 / p50})


WORKLOADS = {"query_pack": _query_pack, "wordcount_ref": _wordcount}


def end_to_end(workload, raw):
    """(metrics, extra): the end-to-end metrics of the untraced measurement
    and workload-specific figures for the run record."""
    m, extra = WORKLOADS[workload](raw, False)
    m["setup_s"] = median(raw["setup_s"])
    m["retained_heap_mb"] = raw["retained_heap_mb"]
    return m, extra


def per_layer(workload, raw, names):
    """Every per-layer metric in `names`; layers the workload does not call
    read 0. A metric computed here but missing from `names` is an error."""
    out = dict.fromkeys(names, 0.0)
    spans = raw.get("spans", [])
    layers = [s for s in spans if s["kind"] == "layer"]
    plans = [s for s in spans if s["kind"] == "plan"]

    def jobs_under(span_id):
        return [s for s in descendants(spans, span_id) if s["kind"] == "job"]

    def attr_sum(jobs, key):
        return sum(j["attrs"].get(key, 0.0) for j in jobs)

    def plan_ms_in(span):
        return sum(p["attrs"]["plan_ms"] for p in plans
                   if p["start_ms"] >= span["start_ms"] and p["end_ms"] <= span["end_ms"])

    if workload == "query_pack":
        family = {o["name"]: o["family"] for o in raw["ops"]}
        passes = len({o["pass"] for o in raw["ops"] if o["traced"]})
        for o in raw["ops"]:
            if o["traced"]:
                out[f"{o['family']}.build_s"] += o["build_s"] / passes
                out[f"{o['family']}.exec_s"] += o["exec_s"] / passes
        self_ms = self_times(spans)
        for s in layers:
            if not s["name"].startswith("query:"):
                continue
            f = family[s["name"][len("query:"):]]
            below = descendants(spans, s["id"])
            jobs = [j for j in below if j["kind"] == "job"]
            # driver time: the query's layer spans less the Spark jobs under them
            driver_ms = self_ms[s["id"]] + sum(self_ms[c["id"]] for c in below if c["kind"] == "layer")
            out[f"{f}.driver_s"] += driver_ms / 1000 / passes
            out[f"{f}.plan_ms"] += plan_ms_in(s) / passes
            out[f"{f}.jobs"] += len(jobs) / passes
            for key in ("task_cpu_s", "shuffle_mb", "result_mb"):
                out[f"{f}.{key}"] += attr_sum(jobs, key) / passes
        out["setup.index_tables"] = raw["index_tables"]
    elif workload == "wordcount_ref":
        wc_jobs = [s for s in layers if s["name"] == "wc.job"]
        per_job = [jobs_under(s["id"]) for s in wc_jobs]
        for key in ("task_cpu_s", "shuffle_mb", "spill_mb"):
            out[f"wc.{key}"] = median([attr_sum(j, key) for j in per_job])
        out["wc.jobs"] = median([len(j) for j in per_job])
        for key in ("scan_s", "tokenize_s", "aggregate_s", "sink_s", "combine_ratio"):
            out[f"wc.{key}"] = median([st[key] for st in raw["stages"]])
        traced_jobs = [j["total_s"] for j in raw["jobs"] if j["traced"]]
        out["wc.mb_per_s"] = raw["input_bytes"] / 1e6 / median(traced_jobs)

    out["setup.session_s"] = median(raw["setup_session_s"])
    out["setup.cold_pass_s"] = median(raw["setup_cold_s"])
    out["jvm.gc_s"] = raw["gc_s"]
    untraced, _ = WORKLOADS[workload](raw, False)
    traced, _ = WORKLOADS[workload](raw, True)
    out["trace.overhead_pct"] = (traced["latency_ms"] / untraced["latency_ms"] - 1) * 100
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


def load(path):
    with open(path) as f:
        return json.load(f)
