#!/usr/bin/env python3
"""Per-layer summary of traced benchmark runs.

    python3 perfbench/summarize.py [RUN_DIR_OR_TRACE_FILE ...]

With no argument, summarizes every traced run under .bench_build/runs/.
For each run it prints, per layer (span name), the mean per iteration of
its self time (span time minus the time its child spans cover), its
share of the iteration, the Spark jobs it ran and its counts; then the
iteration's Spark totals, task_wait_s among them. A later change can so
show in which layer a saving sits.
"""
import collections
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(os.path.dirname(HERE), ".bench_build", "runs")


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_table(spans):
    """layer -> mean per iteration of self_s, jobs and each count."""
    iters = {s["trace"] for s in spans}
    acc = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        a = acc[s["name"]]
        a["self_s"] += s["self_s"]
        a["jobs"] += s["jobs"]
        a["spans"] += 1
        for k, v in s["counts"].items():
            a[k] += v
    n = max(1, len(iters))
    return {name: {k: v / n for k, v in a.items()} for name, a in acc.items()}, len(iters)


def summarize(trace_path, out=sys.stdout):
    run_dir = os.path.dirname(os.path.dirname(trace_path))
    result_path = os.path.join(run_dir, "result.json")
    result = json.load(open(result_path)) if os.path.exists(result_path) else {}
    table, n = layer_table(load_spans(trace_path))
    op_s = table.get("op", {}).get("self_s", 0.0) + sum(
        t["self_s"] for name, t in table.items() if name != "op")
    print(f"== {result.get('workload', '?')}  ({trace_path}, {n} traced iterations)", file=out)
    print(f"{'layer':32} {'self_s':>9} {'share':>6} {'jobs':>6}  counts", file=out)
    for name, t in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        counts = ", ".join(f"{k}={v:g}" for k, v in t.items()
                           if k not in ("self_s", "jobs", "spans"))
        share = t["self_s"] / op_s if op_s else 0.0
        print(f"{name:32} {t['self_s']:9.3f} {share:6.1%} {t['jobs']:6.1f}  {counts}", file=out)
    traced = result.get("traced_ops", [])
    if traced:
        keys = ["task_wait_s", "task_s", "task_cpu_s", "gc_s", "jobs", "stages", "tasks",
                "codegen_compiles", "shuffle_write_bytes", "spill_bytes"]
        mean = {k: sum(o["spark"][k] for o in traced) / len(traced) for k in keys}
        print("spark per iteration: " + ", ".join(f"{k}={mean[k]:g}" for k in keys), file=out)
    print(file=out)


def main(args):
    paths = []
    for a in args or sorted(glob.glob(os.path.join(RUNS, "*"))):
        p = os.path.join(a, "work", "trace.jsonl") if os.path.isdir(a) else a
        if os.path.exists(p):
            paths.append(p)
    if not paths:
        print("no trace files found (run with --trace 1 first)", file=sys.stderr)
        return 1
    for p in paths:
        summarize(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
