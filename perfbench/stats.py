"""Metrics from one harness result: the end-to-end figures (untraced
runs) and the per-layer report (traced runs).

Conventions
- End-to-end timings come from the untraced runs after run 0, which
  pays the cold JVM (class loading, JIT compilation).
- A timing is reported as a median and a tail. The tail is the highest
  percentile that still has at least ten samples beyond it: with n sorted
  samples that is the (n-10)-th, i.e. percentile 100*(n-10)/n; it needs
  n >= 20 so that it never sits below the median. The sample count is
  reported next to it.
- Per-layer values are per workload run: totals over the traced runs
  divided by their number, so runs of different lengths compare.
- `ms` and `driver_only_ms` of a layer include its child spans; `self_ms`
  excludes them (a span's duration minus the union of its children's
  intervals). `driver_only_ms` is the part of a span's wall time that no
  Spark job covers.
- Pipeline nodes are timed by graft (`NodeResult.durationMs`), not by a
  span; they become synthetic child spans of the span that ran their
  pipeline, laid back to back from its start (the projects run nodes
  serially), and their jobs are found by graft's `graft:<pipeline>:<node>`
  job group.
"""

import json
import os
import statistics

# layers the spans and node tags name, in report order
LAYERS = ["core.config", "core.planner", "core.pipeline", "core.catalog", "patterns",
          "validation", "semantics", "operators.dedup", "functions.text",
          "functions.quality", "functions.similarity", "sources.warc", "sources.delta.log", "sources.delta.merge",
          "sources.delta.read", "sources.iceberg.meta", "sources.iceberg.delete",
          "sources.iceberg.write", "sources.iceberg.read", "sources.maintenance", "streaming"]
JOB_COUNTERS = ["jobs", "tasks", "executor_ms", "input_bytes", "shuffle_bytes",
                "spill_bytes", "bytes_written"]
PHASES = {"analysis": "catalyst_analysis_ms", "optimization": "catalyst_optimization_ms",
          "planning": "catalyst_planning_ms"}

# node outputs that carry a layer's counter (rows written by the node)
NODE_ROW_COUNTERS = {"curation.near_dup_candidates": "operators.dedup.pairs_candidates",
                     "curation.near_dup_pairs": "operators.dedup.pairs_out",
                     "curation.near_deduped": "operators.dedup.survivors"}

# the layers each workload enters; a traced run must report every one
CURATION_LAYERS = ["core.config", "core.planner", "core.pipeline", "operators.dedup",
                   "functions.text", "functions.quality", "functions.similarity",
                   "sources.warc"]
WORKLOAD_LAYERS = {
    "pipeline_batch": CURATION_LAYERS + ["core.catalog", "patterns", "validation",
                                         "semantics", "sources.delta.merge"],
    "corpus_curation": CURATION_LAYERS,
    "lakehouse_cdc": ["sources.delta.log", "sources.delta.merge", "sources.delta.read",
                      "sources.iceberg.meta", "sources.iceberg.delete",
                      "sources.iceberg.write", "sources.iceberg.read",
                      "sources.maintenance", "streaming"],
}


def bench_json():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)

# ---------------------------------------------------------------- timings


def median(values):
    return statistics.median(values) if values else None


def tail(values):
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it, or (None, None, n) below twenty samples."""
    n = len(values)
    if n < 20:
        return None, None, n
    k = n - 10  # 1-based rank: exactly ten samples rank above it
    return sorted(values)[k - 1], 100.0 * k / n, n


def warm_untraced(res):
    """The runs the end-to-end timings come from: untraced, and after
    run 0, which pays the cold JVM (class loading, JIT) — unless there is
    no other."""
    untraced = [r for r in res["runs"] if not r["traced"]]
    return [r for r in untraced if r["run"] > 0] or untraced


def end_to_end(res):
    runs = warm_untraced(res)
    untraced = [r["seconds"] for r in runs]
    measured = {r["run"] for r in runs}
    ops = [o for o in res["ops"] if o["kind"] != "lag" and o["run"] in measured]
    op_s = [o["seconds"] for o in ops]
    t, pct, n = tail(op_s)
    out = {
        "setup_s": median(res["setup_s"]),
        "run_s": median(untraced),
        "op_p50_s": median(op_s),
        "heap_peak_mb": res["heap_peak_mb"],
        "op_tail_s": t,
        "_samples": {"setup": len(res["setup_s"]), "runs": len(untraced), "ops": n,
                     "op_tail_percentile": pct},
    }
    # the workload-specific figures: per operation kind, lag, write amplification
    kinds = {"node": "node", "commit": "commit", "read": "read", "lag": "stream_lag",
             "drain": "drain"}
    for kind, label in kinds.items():
        vals = [o["seconds"] for o in res["ops"] if o["kind"] == kind and o["run"] in measured]
        if vals:
            t, pct, n = tail(vals)
            out[f"{label}_p50_s"] = median(vals)
            out[f"{label}_tail_s"] = t
            out["_samples"][label] = n
            out["_samples"][f"{label}_tail_percentile"] = pct
    counts = res.get("counts", {})
    if counts.get("change_bytes"):
        out["write_amp"] = counts["table_bytes_written"] / counts["change_bytes"]
        out["delta_checkpoints"] = counts["checkpoints"]
    out["prep_s"] = res["prep_s"]
    return out


# ------------------------------------------------------------- intervals


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def place_synthetic(spans):
    """Give duration-only spans an interval: back to back from their
    parent's start, in recording order."""
    by_id = {s["id"]: s for s in spans}
    cursor = {}
    for s in sorted(spans, key=lambda s: s["id"]):
        if "start" in s:
            continue
        parent = by_id.get(s["parent"])
        start = cursor.get(s["parent"], parent["start"] if parent else 0.0)
        s["start"], s["end"] = start, start + s["duration"]
        cursor[s["parent"]] = s["end"]
    return spans


def self_times(spans):
    """span id -> duration minus the union of its children's intervals."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# ------------------------------------------------------------- per layer


def _layer(name):
    return "harness" if name == "run" else name


def per_layer(res):
    spans = place_synthetic([dict(s) for s in res["spans"]])
    traced_runs = [r for r in res["runs"] if r["traced"]]
    n_runs = max(len(traced_runs), 1)
    runs = {r["run"] for r in traced_runs}
    jobs = [j for j in res["jobs"] if j["run"] in runs]
    queries = [q for q in res["queries"] if q["run"] in runs]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    tot = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    # spans: wall, self and driver-only time
    group_span = {(s["run"], s["attrs"].get("group")): s for s in spans if "duration" in s}
    job_iv = {}
    for j in jobs:
        job_iv.setdefault(j["run"], []).append((j["start"], j["end"]))
    group_iv = {}
    for j in jobs:
        if j["group"]:
            group_iv.setdefault((j["run"], j["group"]), []).append((j["start"], j["end"]))
    for s in spans:
        layer = _layer(s["name"])
        dur = s["end"] - s["start"]
        add(f"{layer}.ms", dur)
        add(f"{layer}.self_ms", selfs[s["id"]])
        add(f"{layer}.calls", 1)
        if "duration" not in s:
            add(f"{layer}.direct_calls", 1)
        if "duration" in s:  # a node: its own jobs, found by job group
            covered = union_length(group_iv.get((s["run"], s["attrs"]["group"]), []))
        else:
            covered = union_length(job_iv.get(s["run"], []), s["start"], s["end"])
        add(f"{layer}.driver_only_ms", max(dur - covered, 0.0))
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and k not in ("duration",):
                add(f"{layer}.{k}", v)
        if "duration" in s:
            add("core.pipeline.nodes", 1)
            add("core.pipeline.nodes_failed", 1 if s["attrs"].get("failed") else 0)
            counter = NODE_ROW_COUNTERS.get(s["attrs"].get("node"))
            if counter:
                add(counter, s["attrs"].get("rows_written", 0))

    # critical path: the longest depends_on chain of node durations
    for run in runs:
        nodes = {s["attrs"]["node"]: s for s in spans if "duration" in s and s["run"] == run}
        memo = {}

        def longest(n):
            if n not in memo:
                deps = [d for d in nodes[n]["attrs"].get("deps", []) if d in nodes]
                memo[n] = nodes[n]["duration"] + max((longest(d) for d in deps), default=0.0)
            return memo[n]
        if nodes:
            add("core.pipeline.critical_path_ms", max(longest(n) for n in nodes))

    # jobs: by node job group first, else the span that was open
    exec_layer = {}
    for j in jobs:
        node = group_span.get((j["run"], j["group"]))
        span = by_id.get(int(j["span"])) if j.get("span") else None
        layer = _layer(node["name"]) if node else (_layer(span["name"]) if span else "unattributed")
        if j.get("exec_id"):
            exec_layer.setdefault((j["run"], j["exec_id"]), layer)
        for c in JOB_COUNTERS:
            v = 1 if c == "jobs" else j[c]
            add(f"{layer}.{c}", v)
            add(f"spark.{c}", v)

    # queries: the layer of their execution's jobs, else of the node whose
    # job group started the execution, else of its root execution's jobs,
    # else the innermost span open when their planning started
    executions = {(e["run"], e["exec_id"]): e for e in res.get("executions", [])}

    def query_layer(q):
        key = (q["run"], q["exec_id"])
        if key in exec_layer:
            return exec_layer[key]
        e = executions.get(key)
        if e and (q["run"], e["group"]) in group_span:
            return _layer(group_span[(q["run"], e["group"])]["name"])
        if e and (q["run"], e["root_id"]) in exec_layer:
            return exec_layer[(q["run"], e["root_id"])]
        t = min((p["start"] for p in q["phases"].values()), default=None)
        inside = [s for s in spans if s["run"] == q["run"] and t is not None
                  and s["start"] <= t <= s["end"]]
        return _layer(max(inside, key=lambda s: s["start"])["name"]) if inside else "unattributed"

    for q in queries:
        layer = query_layer(q)
        add(f"{layer}.files_scanned", q["files_scanned"])
        for phase, name in PHASES.items():
            if phase in q["phases"]:
                d = q["phases"][phase]["end"] - q["phases"][phase]["start"]
                add(f"{layer}.{name}", d)
                add(f"spark.{name}", d)
    add("spark.driver_only_ms", tot.get("harness.driver_only_ms", 0.0))

    out = {k: v / n_runs for k, v in tot.items()}
    # ratios are of totals, not per-run means
    for layer in ("sources.delta.merge",):
        if tot.get(f"{layer}.files_live"):
            out[f"{layer}.files_touched_ratio"] = tot.get(f"{layer}.files_touched", 0) / tot[f"{layer}.files_live"]
    for layer in ("sources.delta.read", "sources.iceberg.read"):
        # a full read scans every live file: the key-range read's skip share
        if tot.get(f"{layer}.full_files_scanned"):
            out[f"{layer}.files_skipped_ratio"] = (
                1 - tot.get(f"{layer}.range_files_scanned", 0) / tot[f"{layer}.full_files_scanned"])
    if "sources.maintenance.files_before" in tot:
        out["sources.maintenance.files_after"] = (
            tot["sources.maintenance.files_before"] - tot.get("sources.maintenance.files_removed", 0)
            + tot.get("sources.maintenance.files_added", 0)) / n_runs
    if "catalog_files" in res["facts"]:
        out["core.catalog.files"] = res["facts"]["catalog_files"]
    out.update(overhead(res["runs"]))
    out["trace.runs"] = len(traced_runs)
    return out


def overhead(runs):
    """Tracing overhead: each traced run minus the mean of the untraced
    runs just before and after it (the warm runs still speed up, and the
    bracket cancels that trend); the median over the traced runs."""
    by_run = {r["run"]: r for r in runs}
    diffs, traced, untraced = [], [], []
    for r in runs:
        before, after = by_run.get(r["run"] - 1), by_run.get(r["run"] + 1)
        if r["traced"] and before and after and before["run"] > 0 \
                and not before["traced"] and not after["traced"]:
            base = (before["seconds"] + after["seconds"]) / 2
            diffs.append(r["seconds"] - base)
            traced.append(r["seconds"])
            untraced.append(base)
    if not diffs:
        return {}
    return {"trace.overhead_s": median(diffs), "trace.traced_run_s": median(traced),
            "trace.untraced_run_s": median(untraced)}


def coverage(workload, layers):
    """Failures of a traced run's per-layer report: a layer the workload
    enters that the run never timed, a negative self time, or a
    BENCHMARK.json per-layer metric of an entered layer that reads 0.
    A layer entered only through pipeline nodes has just the job
    counters; the others come from the harness's direct calls."""
    out = []
    entered = WORKLOAD_LAYERS[workload]
    for layer in entered:
        if not layers.get(f"{layer}.calls"):
            out.append(f"traced run never entered layer {layer}")
        if layers.get(f"{layer}.self_ms", 0.0) < 0:
            out.append(f"layer {layer} has a negative self time")
    for m in bench_json()["per_layer"]:
        layer, counter = m["name"].rsplit(".", 1)
        direct = counter in JOB_COUNTERS or layers.get(f"{layer}.direct_calls")
        if layer in entered and direct and not layers.get(m["name"]):
            out.append(f"per-layer metric {m['name']} reads 0 on {workload}")
    return out


# ---------------------------------------------------------------- output


def select(values, kind):
    """The metrics BENCHMARK.json lists under `kind` ("end_to_end" or
    "per_layer"), in its order and with its units. A per-layer counter
    of a layer the workload never enters reads 0; a missing end-to-end
    metric is an error."""
    out = {}
    for m in bench_json()[kind]:
        v = values.get(m["name"])
        if v is None:
            if kind == "end_to_end":
                raise ValueError(f"metric {m['name']} was not measured")
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def render(report):
    lines = [f"== perfbench {report['workload']} seed={report['seed']} trace={report['trace']}"]
    env = report["env"]
    lines.append(f"env: nproc={env['start']['nproc']} mem_total_kb={env['start']['mem_total_kb']} "
                 f"xmx={env['xmx']} load={env['start']['loadavg']}->{env['end']['loadavg']} "
                 f"steal_ticks+={env['steal_ticks_delta']}")
    lines.append(f"generation: {report['gen_s']:.3f} s (not in setup_s or run_s); "
                 f"prepare: {report['prep_s']:.3f} s")
    lines.append("wall: " + ", ".join(f"{k}={v:.1f}" for k, v in report["wall"].items()))
    e2e = report["end_to_end"]
    for k, v in e2e.items():
        if not k.startswith("_"):
            lines.append(f"  {k:24s} {v if v is not None else 'n/a'}")
    lines.append(f"  samples: {e2e['_samples']}")
    lines.append(f"  fail_ratio               {report['fail_ratio']} "
                 f"({len(report['check_failures'])} failed checks of {report['checks']})")
    for f in report["check_failures"]:
        lines.append(f"  CHECK FAILED: {f}")
    pl = report["per_layer"]
    if pl:
        lines.append("per layer (per traced run):")
        cols = ["ms", "self_ms", "driver_only_ms", "jobs", "tasks", "executor_ms",
                "catalyst_analysis_ms", "catalyst_optimization_ms", "catalyst_planning_ms"]
        lines.append("  " + "layer".ljust(24) + "".join(c[:13].rjust(14) for c in cols))
        for layer in ["harness"] + LAYERS + ["unattributed"]:
            if any(k.startswith(layer + ".") for k in pl):
                lines.append("  " + layer.ljust(24) + "".join(
                    f"{pl.get(f'{layer}.{c}', 0.0):14.1f}" for c in cols))
        extras = {k: v for k, v in pl.items()
                  if k.split(".")[-1] not in cols + ["calls"] and not k.startswith("harness")}
        lines.append("  counters: " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(extras.items())))
    return "\n".join(lines)
