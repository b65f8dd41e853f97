#!/usr/bin/env python3
"""Metrics from one raw benchmark record, and the tracing-overhead report.

`end_to_end(raw)` and `per_layer(raw)` turn the JSON the Scala runner
writes (set-up times, one entry per timed op, spans with their Spark
counters) into the metrics BENCHMARK.json names. `named(raw)` gives the
workload-specific figures (ivf_ms_p50, ingest_items_per_s, ...) that the
result files carry beside them.

Usage: python3 perfbench/report.py overhead|spread [RESULTS_DIR]
  overhead: per traced run, the change of each end-to-end metric against
    the untraced run of the same workload and seed (the tracing
    overhead), and the op time outside any library span;
  spread: per workload, each end-to-end metric's values over the
    untraced runs, their median and interquartile range / median.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

MB = 1 << 20

# (span, counters) the traced run reports; a span a workload never calls
# reports 0 for every counter
LAYERS = [
    ("text.prepare_stages", ["s", "busy_s", "jobs"]),
    ("dedup.jaccard_pairs", ["s", "busy_s", "shuffle_mb", "spill_mb", "useful_ratio"]),
    ("dedup.containment_pairs", ["s", "busy_s", "shuffle_mb", "spill_mb", "useful_ratio"]),
    ("dedup.connected_components", ["s", "jobs", "plan_s"]),
    ("text.split_summary", ["s"]),
    ("sim.ivf_build", ["s", "busy_s"]),
    ("sim.pq_build", ["s", "busy_s"]),
    ("text.index_build", ["s", "busy_s"]),
    ("sim.ivf_query", ["s", "plan_s", "jobs", "input_rows", "rows_per_result"]),
    ("sim.pq_query", ["s", "plan_s", "jobs", "input_rows", "rows_per_result"]),
    ("text.index_query", ["s", "plan_s", "input_rows", "rows_per_result"]),
    ("operators.query", ["s", "plan_s", "jobs", "busy_s"]),
    ("plans.asof_query", ["s", "plan_s", "jobs", "busy_s"]),
    ("handler.batched_map", ["s", "tasks", "items_per_task"]),
    ("streaming.minhash_dedup_sink", ["s", "jobs", "plan_s", "output_mb",
                                      "bytes_written_per_item", "dup_hit_ratio"]),
    ("streaming.embed_dedup_sink", ["s", "jobs", "plan_s", "output_mb",
                                    "bytes_written_per_item", "dup_hit_ratio"]),
    ("text.index_sink", ["s", "jobs", "plan_s", "output_mb",
                         "bytes_written_per_item"]),
    ("sim.ivf_append", ["s", "jobs", "plan_s", "output_mb",
                        "bytes_written_per_item"]),
    ("text.fresh_query", ["s", "plan_s", "input_rows"]),
    ("sim.fresh_read", ["s", "plan_s", "input_rows"]),
    ("all", ["spill_mb", "busy_frac", "outside_span_frac"]),
]

UNITS = {"s": "s", "busy_s": "s", "plan_s": "s", "jobs": "count",
         "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB",
         "output_mb": "MB", "input_rows": "rows", "useful_ratio": "ratio",
         "rows_per_result": "rows/result", "items_per_task": "items/task",
         "bytes_written_per_item": "B/item", "dup_hit_ratio": "ratio",
         "busy_frac": "ratio", "outside_span_frac": "ratio"}
HIGHER = {"useful_ratio", "items_per_task", "dup_hit_ratio", "busy_frac"}

E2E_UNITS = {"setup_s": "s", "op_ms_p50": "ms", "work_per_s": "1/s"}

SEARCH_KINDS = ("ivf", "pq", "text")

# units of the named figures in the result files
NAMED_UNITS = {"setup_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
               "live_heap_mb": "MB", "prepare_docs_per_s": "docs/s",
               "pass_ms": "ms", "ivf_ms_p50": "ms", "pq_ms_p50": "ms",
               "text_ms_p50": "ms", "search_ms_p90": "ms", "sql_ms_p50": "ms",
               "sql_ms_p90": "ms", "ingest_batch_s_p50": "s",
               "ingest_items_per_s": "items/s", "fresh_read_ms_p50": "ms"}


def per_layer_names():
    return [(f"{span}.{c}", UNITS[c], "higher" if c in HIGHER else "lower")
            for span, cs in LAYERS for c in cs]


def timing(samples):
    """Median plus the highest percentile with at least 10 samples beyond it."""
    if not samples:
        return {"p50": None, "n": 0}
    out = {"p50": statistics.median(samples), "n": len(samples)}
    srt = sorted(samples)
    for pct in (99, 95, 90, 75):
        if len(srt) * (100 - pct) / 100.0 >= 10:
            out["tail_pct"] = pct
            out["tail"] = srt[min(len(srt) - 1, int(len(srt) * pct / 100.0))]
            break
    return out


def ok_ops(raw, kind=None):
    return [o for o in raw["ops"] if not o.get("error")
            and (kind is None or o["kind"] == kind)]


def end_to_end(raw):
    """setup_s: set-up time; op_ms_p50: the geometric mean over the
    workload's op kinds of each kind's median latency; work_per_s: docs per
    second of a median corpus pass, or ingested items per second of all
    timed op time (ingest, fresh reads and reads). Memory (peak RSS, heap
    live after the timed ops) moved by a quarter between runs of one seed,
    so it is a named figure, not a gated metric."""
    ops = ok_ops(raw)
    med = {k: statistics.median([o["ms"] for o in ok_ops(raw, k)])
           for k in {o["kind"] for o in ops}}
    if raw["workload"] == "corpus_prepare":
        work = ops[0]["items"] / (med["pass"] / 1e3)
    else:
        work = (sum(o["items"] for o in ok_ops(raw, "batch"))
                / (sum(o["ms"] for o in ops) / 1e3))
    return {"setup_s": raw["setup_s"],
            "op_ms_p50": statistics.geometric_mean(med.values()),
            "work_per_s": work}


def named(raw):
    """The workload's own figures, under the names the design uses."""
    w = raw["workload"]
    n = {"setup_s": raw["setup_s"],
         "peak_rss_mb": raw["peak_rss_mb"],
         "live_heap_mb": raw["live_heap_mb"]}
    ms = lambda k: [o["ms"] for o in ok_ops(raw, k)]
    if w == "corpus_prepare":
        med = statistics.median(ms("pass"))
        n["prepare_docs_per_s"] = ok_ops(raw)[0]["items"] / (med / 1e3)
        n["pass_ms"] = timing(ms("pass"))
    else:
        for k in SEARCH_KINDS:
            n[f"{k}_ms_p50"] = timing(ms(k))
        n["search_ms_p90"] = timing(sum((ms(k) for k in SEARCH_KINDS), []))
        n["sql_ms_p50"] = n["sql_ms_p90"] = timing(ms("sql") + ms("asof"))
        b = ok_ops(raw, "batch")
        n["ingest_batch_s_p50"] = timing([o["ms"] / 1e3 for o in b])
        n["ingest_items_per_s"] = (sum(o["items"] for o in b)
                                   / (sum(o["ms"] for o in b) / 1e3))
        n["fresh_read_ms_p50"] = timing(ms("fresh"))
    return n


def _calls(raw):
    """Per-call facts of every span: self time, counters, owning op."""
    spans = raw["spans"]
    child = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["dur_ms"]
    calls = defaultdict(list)
    for s in spans:
        c = s["counters"]
        plan = (c["first_job_ms"] - s["start_ms"]) / 1e3 if c["jobs"] else 0.0
        calls[s["name"]].append({
            "op": s["op"], "self_s": (s["dur_ms"] - child[s["id"]]) / 1e3,
            "dur_s": s["dur_ms"] / 1e3, "plan_s": max(0.0, plan),
            "jobs": c["jobs"], "tasks": c["tasks"],
            "busy_s": c["busy_ms"] / 1e3,
            "shuffle_mb": c["shuffle_bytes"] / MB,
            "spill_mb": c["spill_bytes"] / MB, "input_rows": c["input_rows"],
            "output_mb": c["output_bytes"] / MB,
            "output_bytes": c["output_bytes"]})
    return calls


def per_layer(raw):
    calls = _calls(raw)
    ops = raw["ops"]
    checks = raw["checks"]
    med = statistics.median
    out = {}
    for span, counters in LAYERS:
        if span == "all":
            continue
        # timed calls only; set-up spans (the builds) have no other calls
        cs = calls.get(span, [])
        cs = [x for x in cs if x["op"] >= 0] or cs
        for c in counters:
            key = f"{span}.{c}"
            if not cs:
                out[key] = 0.0
            elif c == "s":
                out[key] = med([x["self_s"] for x in cs])
            elif c in ("busy_s", "plan_s", "jobs", "tasks", "shuffle_mb",
                       "spill_mb", "input_rows", "output_mb"):
                out[key] = med([x[c] for x in cs])
            elif c == "useful_ratio":
                cand = checks.get("jaccard_candidates", 0)
                field = ("jaccard_pairs" if "jaccard" in span
                         else "containment_pairs")
                # containment pairs come in both orientations
                div = cand * (1 if "jaccard" in span else 2)
                vals = [o[field] / div for o in ok_ops(raw) if field in o]
                out[key] = med(vals) if vals and div else 0.0
            elif c == "rows_per_result":
                vals = [x["input_rows"] / ops[x["op"]]["results"]
                        for x in cs if ops[x["op"]].get("results")]
                out[key] = med(vals) if vals else 0.0
            elif c == "items_per_task":
                vals = [ops[x["op"]]["items"] / x["tasks"]
                        for x in cs if x["tasks"]]
                out[key] = med(vals) if vals else 0.0
            elif c == "bytes_written_per_item":
                vals = [x["output_bytes"] / ops[x["op"]]["items"]
                        for x in cs if ops[x["op"]]["items"]]
                out[key] = med(vals) if vals else 0.0
            elif c == "dup_hit_ratio":
                field = "minhash_hits" if "minhash" in span else "embed_hits"
                planted = sum(o.get("planted", 0) for o in ops)
                out[key] = (sum(o.get(field, 0) for o in ops) / planted
                            if planted else 0.0)
    # whole-run figures over the timed ops
    timed = [x for cs in calls.values() for x in cs if x["op"] >= 0]
    roots = [x for name, cs in calls.items() if name.startswith("op.")
             for x in cs if x["op"] >= 0]
    wall = sum(x["dur_s"] for x in roots)
    out["all.spill_mb"] = sum(x["spill_mb"] for x in timed) / max(1, len(ops))
    out["all.busy_frac"] = (sum(x["busy_s"] for x in timed)
                            / (wall * raw["cores"]) if wall else 0.0)
    out["all.outside_span_frac"] = (sum(x["self_s"] for x in roots) / wall
                                    if wall else 0.0)
    return out


def self_time_split(raw):
    """Per op: wall time, summed span self times, and time outside any span."""
    calls = _calls(raw)
    by_op = defaultdict(lambda: {"wall_s": 0.0, "span_self_s": 0.0})
    for name, cs in calls.items():
        for x in cs:
            if x["op"] < 0:
                continue
            if name.startswith("op."):
                by_op[x["op"]]["wall_s"] += x["dur_s"]
                by_op[x["op"]]["outside_span_s"] = x["self_s"]
            else:
                by_op[x["op"]]["span_self_s"] += x["self_s"]
    return dict(sorted(by_op.items()))


def load(results):
    """Result files under `results`, oldest first."""
    out = []
    for f in sorted(glob.glob(os.path.join(results, "*.json")),
                    key=os.path.getmtime):
        with open(f) as fh:
            r = json.load(fh)
        if "metrics" in r:
            out.append(r)
    return out


def spread(results):
    """Per workload and end-to-end metric over the untraced runs: the
    values by seed, their median and the interquartile range as a share
    of the median (statistics.quantiles, n=4)."""
    by = defaultdict(list)
    for r in load(results):
        if not r["trace"]:
            by[r["workload"]].append(r)
    out = {}
    for w, runs in sorted(by.items()):
        out[w] = {"runs": [{"seed": r["seed"], "metrics": r["metrics"],
                            "conditions": r["conditions"],
                            "revision": r["revision"]} for r in runs]}
        for k in runs[0]["metrics"]:
            vals = [r["metrics"][k] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            out[w][k] = {"median": med, "iqr_share": (q[2] - q[0]) / med,
                         "n": len(vals)}
    return out


def overhead(results):
    """Per traced run: its end-to-end figures against the untraced run of
    the same workload and seed, and the op wall time outside any span."""
    runs = defaultdict(dict)
    for r in load(results):
        runs[(r["workload"], r["seed"])][r["trace"]] = r
    out = []
    for (w, seed), pair in sorted(runs.items()):
        if 1 not in pair:
            continue
        split = pair[1]["self_time_split"].values()
        row = {"workload": w, "seed": seed,
               "op_wall_s": sum(o["wall_s"] for o in split),
               "outside_span_s": sum(o.get("outside_span_s", 0) for o in split)}
        if 0 in pair:
            row["e2e_change"] = {
                k: pair[1]["e2e_traced"][k] / v - 1
                for k, v in pair[0]["metrics"].items()}
        out.append(row)
    return out


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "overhead"
    results = sys.argv[2] if len(sys.argv) > 2 else ".bench_build/results"
    print(json.dumps({"spread": spread, "overhead": overhead}[cmd](results),
                     indent=1, sort_keys=True))
