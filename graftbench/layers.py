"""Per-layer metrics from a graftbench trace.

A `--trace 1` run writes every span and Spark listener event it recorded to
.bench_build/traces/<workload>-seed<n>.jsonl. This file turns that trace into
the per-layer metrics; run it on a trace to recompute them, per op kind too:

    python3 graftbench/layers.py .bench_build/traces/serve-seed1.jsonl

"Per op" values are means over the traced timed ops (spans named op.<kind>,
setup excluded). Spark jobs belong to the span named by their
`graftbench.span` property, or, when Spark ran them on a thread that did not
inherit it, to the op whose interval holds their start. Catalyst phases
belong to the op whose interval holds them.
"""
import json
import statistics
import sys
from collections import defaultdict

# (name, unit) in BENCHMARK.json order
PER_LAYER = [
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.query_executions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.overhead_ms", "ms"),
    ("task.run_ms", "ms"), ("task.cpu_ms", "ms"), ("task.cpu_util", "ratio"),
    ("task.gc_ms", "ms"), ("task.critical_path_ms", "ms"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("io.input_bytes", "bytes"),
    ("io.output_bytes", "bytes"), ("spill.memory_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"),
    ("index.create_ms", "ms"), ("index.persist_ms", "ms"),
    ("index.search_batch_ms", "ms"), ("index.driver_ms", "ms"),
    ("operators.text_index_build_ms", "ms"), ("operators.hybrid_ms", "ms"),
    ("operators.search_table_ms", "ms"),
    ("kernel.l2_ns_n64_d128", "ns"), ("kernel.l2_ns_n1024_d768", "ns"),
    ("kernel.l2_ns_n512_d1536", "ns"), ("kernel.l2_expr_ns_n1024_d768", "ns"),
    ("kernel.vs_baseline", "ratio"),
    ("pipeline.clean_ms", "ms"), ("pipeline.exact_dedup_ms", "ms"),
    ("pipeline.minhash_ms", "ms"), ("pipeline.components_ms", "ms"),
    ("pipeline.chunk_shard_ms", "ms"), ("pipeline.lsh_candidate_precision", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_used_mb", "MB"),
    ("op.wall_ms", "ms"), ("op.unattributed_ms", "ms"), ("trace_overhead_ms", "ms"),
]

# layer call spans reported as the median duration of one call, whole run
CALL_SPANS = {
    "index.create_ms": "index.create", "index.persist_ms": "index.persist",
    "index.search_batch_ms": "index.search_batch",
    "operators.text_index_build_ms": "operators.text_index_build",
    "operators.hybrid_ms": "operators.hybrid",
    "operators.search_table_ms": "operators.search_table",
    "pipeline.clean_ms": "pipeline.clean", "pipeline.exact_dedup_ms": "pipeline.exact_dedup",
    "pipeline.minhash_ms": "pipeline.minhash", "pipeline.components_ms": "pipeline.components",
    "pipeline.chunk_shard_ms": "pipeline.chunk_shard",
}
# per-op sums of task metrics: metric -> task field (and scale)
TASK_SUMS = {
    "task.run_ms": ("run_ms", 1), "task.cpu_ms": ("cpu_ns", 1e-6), "task.gc_ms": ("gc_ms", 1),
    "shuffle.write_bytes": ("shuffle_write", 1), "shuffle.read_bytes": ("shuffle_read", 1),
    "shuffle.fetch_wait_ms": ("fetch_wait_ms", 1), "io.input_bytes": ("input", 1),
    "io.output_bytes": ("output", 1), "spill.memory_bytes": ("spill_mem", 1),
    "spill.disk_bytes": ("spill_disk", 1),
}
CATALYST = {"analysis": "catalyst.analysis_ms", "optimization": "catalyst.optimization_ms",
            "planning": "catalyst.planning_ms"}


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def derive(recs, kind=None):
    """Per-layer metrics of a trace; `kind` limits per-op values to op.<kind>."""
    spans = {r["id"]: r for r in recs if r["type"] == "span"}
    values = defaultdict(list)
    for r in recs:
        if r["type"] == "value":
            values[r["name"]].append(r["value"])

    def root(s):
        while s["parent"] != -1:
            s = spans[s["parent"]]
        return s

    ops = [s for s in spans.values() if s["parent"] == -1 and s["name"] not in ("op.setup", "op.warmup")
           and (kind is None or s["name"] == "op." + kind)]

    def op_at(t):
        for s in ops:
            if s["start"] <= t <= s["end"]:
                return s["id"]
        return None

    jobs = {}
    for r in recs:
        if r["type"] == "job":
            jobs[r["id"]] = dict(r, end=r["start"])
    for r in recs:
        if r["type"] == "job_end" and r["id"] in jobs:
            jobs[r["id"]]["end"] = r["end"]
    stage_job = {}
    for j in jobs.values():
        linked = spans.get(j["span"])
        j["op"] = root(linked)["id"] if linked else op_at(j["start"])
        for st in j["stages"]:
            stage_job[st] = j
    stages = defaultdict(list)  # op -> completed stage records
    for r in recs:
        if r["type"] == "stage" and r["id"] in stage_job:
            stages[stage_job[r["id"]]["op"]].append(r)
    tasks = defaultdict(list)  # op -> task records
    for r in recs:
        if r["type"] == "task" and r["stage"] in stage_job:
            tasks[stage_job[r["stage"]]["op"]].append(r)
    phases = defaultdict(list)  # op -> (phase, start, end)
    for r in recs:
        if r["type"] == "query":
            for name, (s, e) in r["phases"].items():
                o = op_at(s)
                if o is not None and name in CATALYST:
                    phases[o].append((name, s, e))
    queries = defaultdict(int)
    for r in recs:
        if r["type"] == "query":
            starts = [s for s, _ in r["phases"].values()]
            o = op_at(max(starts)) if starts else None
            if o is not None:
                queries[o] += 1

    per_op = defaultdict(float)
    for s in ops:
        o, lo, hi = s["id"], s["start"], s["end"]
        job_iv = [(j["start"], j["end"]) for j in jobs.values() if j["op"] == o]
        task_iv = [(t["start"], t["end"]) for t in tasks[o]]
        cat_iv = [(a, b) for _, a, b in phases[o]]
        per_op["op.wall_ms"] += hi - lo
        per_op["scheduler.jobs"] += len(job_iv)
        per_op["scheduler.stages"] += len(stages[o])
        per_op["scheduler.tasks"] += len(task_iv)
        per_op["catalyst.query_executions"] += queries[o]
        for name, a, b in phases[o]:
            per_op[CATALYST[name]] += b - a
        for metric, (field, scale) in TASK_SUMS.items():
            per_op[metric] += sum(t.get(field, 0) for t in tasks[o]) * scale
        longest = defaultdict(float)
        for t in tasks[o]:
            longest[t["stage"]] = max(longest[t["stage"]], t["end"] - t["start"])
        per_op["task.critical_path_ms"] += sum(longest.values())
        per_op["scheduler.overhead_ms"] += (hi - lo) - covered(cat_iv + task_iv, lo, hi)
        per_op["op.unattributed_ms"] += (hi - lo) - covered(cat_iv + task_iv + job_iv, lo, hi)
        per_op["jvm.gc_ms"] += s["attrs"].get("gc_ms", 0)
        all_jobs = [(j["start"], j["end"]) for j in jobs.values()]
        for c in spans.values():
            if c["name"].startswith("index.") and c["parent"] != -1 and root(c)["id"] == o:
                per_op["index.driver_ms"] += (c["end"] - c["start"]) - covered(
                    all_jobs, c["start"], c["end"])

    n = max(1, len(ops))
    out = {name: per_op[name] / n for name, _ in PER_LAYER if name in per_op}
    out["task.cpu_util"] = per_op["task.cpu_ms"] / per_op["task.run_ms"] if per_op["task.run_ms"] else 0.0
    for metric, name in CALL_SPANS.items():
        d = [s["end"] - s["start"] for s in spans.values() if s["name"] == name]
        out[metric] = statistics.median(d) if d else 0.0
    for name, v in values.items():
        if name.startswith(("kernel.", "jvm.heap", "trace_overhead", "pipeline.lsh")):
            out[name] = statistics.median(v)
    out["timed_ops"] = len(ops)
    return out


def per_layer(path):
    """The result line's `metrics` for a traced run: every PER_LAYER metric."""
    m = derive(load(path))
    return {name: {"value": m.get(name, 0.0), "unit": unit} for name, unit in PER_LAYER}


def main(path):
    recs = load(path)
    kinds = sorted({s["name"][3:] for s in recs if s["type"] == "span"
                    and s["parent"] == -1 and s["name"] not in ("op.setup", "op.warmup")})
    table = {"all": derive(recs), **{k: derive(recs, k) for k in kinds}}
    names = [n for n, _ in PER_LAYER] + ["timed_ops"]
    print("%-34s" % "metric" + "".join("%16s" % k for k in table))
    for name in names:
        print("%-34s" % name + "".join("%16.3f" % table[k].get(name, 0.0) for k in table))


if __name__ == "__main__":
    main(sys.argv[1])
