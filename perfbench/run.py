#!/usr/bin/env python3
"""The repo benchmark: IPES pipeline, dashboard and corpus-curation workloads.

One run:
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
Every workload at one seed, with the per-workload figures by name:
    python3 perfbench/run.py --all --seed N [--seconds S]

A run builds the engine with the benchmark (sbt, once per source state,
into .bench_build/), generates the workload's inputs from the seed, runs
the JVM side (graft.perfbench.BenchMain) at local[N], N = min(4, nproc),
checks the outputs outside the timed spans, and prints as its last line
one JSON object: correct, attempted, failed, metrics. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (the
span file is .bench_build/runs/<run>/trace.jsonl; see summarize.py).
Exit code: 0 when every check passed, 2 when one failed, 1 when the run
could not be made at all.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["ipes_pipeline", "dashboard_queries", "corpus_curation"]
GEN_REPS = 3
# a fixed, pre-touched heap: with a growing one, peak RSS follows the
# collector's sizing decisions, which varied from run to run by a quarter
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 170

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("peak_rss_mb", "MB")]

# (metric, unit, layer span, count or None for self time)
_LAYER_COUNTS = [
    ("sources.Readers.self_s", "s", "sources.Readers", None),
    ("sources.Readers.rows", "count", "sources.Readers", "rows"),
    ("etl.IpesPipeline.self_s", "s", "etl.IpesPipeline", None),
    ("etl.IpesPipeline.companies", "count", "etl.IpesPipeline", "companies"),
    ("etl.IpesPipeline.filings", "count", "etl.IpesPipeline", "filings"),
    ("dedup.FuzzyDedup.self_s", "s", "dedup.FuzzyDedup", None),
    ("dedup.FuzzyDedup.distinct_names", "count", "dedup.FuzzyDedup", "distinct_names"),
    ("dedup.FuzzyDedup.candidate_pairs", "count", "dedup.FuzzyDedup", "candidate_pairs"),
    ("dedup.FuzzyDedup.edges", "count", "dedup.FuzzyDedup", "edges"),
    ("etl.Validate.valid", "count", "etl.Validate", "valid"),
    ("etl.Validate.invalid", "count", "etl.Validate", "invalid"),
    ("sources.Writers.self_s", "s", "sources.Writers", None),
    ("sources.Writers.output_bytes", "bytes", "sources.Writers", "output_bytes"),
    ("etl.Enrich.self_s", "s", "etl.Enrich", None),
    ("etl.Enrich.calls", "count", "etl.Enrich", "calls"),
    ("etl.Enrich.cache_hits", "count", "etl.Enrich", "cache_hits"),
    ("etl.Enrich.rerun_calls", "count", "etl.Enrich", "rerun_calls"),
    ("etl.Enrich.rerun_cache_hits", "count", "etl.Enrich", "rerun_cache_hits"),
    ("sources.DownloadSink.self_s", "s", "sources.DownloadSink", None),
    ("sources.DownloadSink.queued", "count", "sources.DownloadSink", "queued"),
    ("sources.DownloadSink.ok", "count", "sources.DownloadSink", "ok"),
    ("sources.DownloadSink.failed", "count", "sources.DownloadSink", "failed"),
    ("sources.DownloadSink.bytes_written", "bytes", "sources.DownloadSink", "bytes_written"),
    ("analytics.Dashboard.plan_ms", "ms", "analytics.Dashboard", "plan_ms"),
    ("analytics.Dashboard.exec_ms", "ms", "analytics.Dashboard", "exec_ms"),
    ("text.TextAnalysis.self_s", "s", "text.TextAnalysis", None),
    ("text.TextAnalysis.docs_kept", "count", "text.TextAnalysis", "docs_kept"),
    ("dedup.ScaleDedup.lsh_self_s", "s", "dedup.ScaleDedup.lsh", None),
    ("dedup.ScaleDedup.lsh_candidates", "count", "dedup.ScaleDedup.lsh", "candidates"),
    ("dedup.ScaleDedup.lsh_verified", "count", "dedup.ScaleDedup.lsh", "verified"),
    ("dedup.ScaleDedup.survivors", "count", "dedup.ScaleDedup.lsh", "survivors"),
    ("dedup.ScaleDedup.prefix_self_s", "s", "dedup.ScaleDedup.prefix", None),
    ("dedup.ScaleDedup.prefix_pairs", "count", "dedup.ScaleDedup.prefix", "pairs"),
    ("similarity.Clustering.self_s", "s", "similarity.Clustering", None),
    ("similarity.Clustering.kept", "count", "similarity.Clustering", "kept"),
]
_SPARK = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_failures", "count"), ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.task_wait_s", "s"), ("spark.task_skew", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_records", "count"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.stored_block_bytes", "bytes"), ("spark.codegen_compiles", "count"),
    ("spark.codegen_compile_ms", "ms"),
]
_DERIVED = [
    ("etl.Pipeline.cold_s", "s"),
    ("etl.Pipeline.incremental_s", "s"),
    ("spark.core_util", "ratio"),
    ("dedup.FuzzyDedup.edges_per_candidate", "ratio"),
    ("etl.Enrich.cache_hit_ratio", "ratio"),
    ("analytics.Dashboard.compiles_per_query", "count"),
    ("dedup.ScaleDedup.lsh_verified_per_candidate", "ratio"),
    ("similarity.Clustering.jobs", "count"),
    ("similarity.Clustering.jobs_per_iter", "count"),
    ("trace.overhead_ratio", "ratio"),
]
PER_LAYER = [(m, u) for m, u in _SPARK] + [(m, u) for m, u, _, _ in _LAYER_COUNTS] + _DERIVED


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with the benchmark's own sbt build
    when the sources changed since the last build; returns the
    classpath and the seconds spent building."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = _source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == digest:
        return open(cp_file).read().strip(), 0.0
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS="")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
           f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.boot.directory={BUILD}/sbt-boot",
           "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
           f"-Djna.tmpdir={BUILD}/tmp", f"-Djava.io.tmpdir={BUILD}/tmp", "-J-Xmx2g",
           "compile", "writeClasspath"]
    os.makedirs(f"{BUILD}/tmp", exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise RuntimeError(f"build failed (rc={rc}); see {BUILD}/build.log")
    with open(stamp_file, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), time.time() - t0


# ---------------------------------------------------------- environment

def _cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle, steal = v[3] + v[4], v[7] if len(v) > 7 else 0
    return sum(v) - idle - steal, steal, sum(v)


def env_sample():
    """loadavg, busy cores and cores stolen by the hypervisor over a
    0.25 s window (recorded, not gated on)."""
    b0, s0, t0 = _cpu_times()
    time.sleep(0.25)
    b1, s1, t1 = _cpu_times()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    n = os.cpu_count()
    return {"loadavg": load, "busy_cores": round((b1 - b0) / max(1, t1 - t0) * n, 2),
            "stolen_cores": round((s1 - s0) / max(1, t1 - t0) * n, 2)}


def _git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


# --------------------------------------------------------------- metrics

def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tally(ops, checks, bad_keys=frozenset()):
    """(attempted, failed) operations. An operation fails when it threw,
    its own check failed, or it issued a request whose result DuckDB
    disagrees with; any other failed check condemns every operation."""
    whole = [c for c in checks if not c[1] and c[0] != "dashboard.duckdb"]
    failed = len(ops) if whole else sum(
        1 for o in ops if not o["ok"] or o["key"] in bad_keys)
    return len(ops), failed


def end_to_end_metrics(res, setup_s):
    e2e = {"setup_s": setup_s, "op_p50_ms": statistics.median(steal_adjusted_ms(res["ops"])),
           "peak_rss_mb": res["peak_rss_kb"] / 1024.0}
    return {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END}


def per_layer_metrics(res):
    traced, plain = res["traced_ops"], res["ops"]
    out = {}
    for m, _ in _SPARK:
        k = m.split(".", 1)[1]
        xs = [o["spark"][k] for o in traced]
        out[m] = statistics.median(xs) if k == "task_skew" and xs else _mean(xs)
    for m, _, layer, count in _LAYER_COUNTS:
        xs = [(o["layers"][layer]["self_s"] if count is None
               else o["layers"][layer]["counts"].get(count, 0.0))
              for o in traced if layer in o["layers"]]
        out[m] = _mean(xs)
    for phase in ("cold", "incremental"):
        out[f"etl.Pipeline.{phase}_s"] = _median_detail(plain, f"{phase}_ms") / 1e3
    wall = sum(o["ms"] for o in traced) / 1e3
    out["spark.core_util"] = sum(o["spark"]["task_s"] for o in traced) / \
        max(1e-9, wall * res["cores"])

    def ratio(a, b):
        return out[a] / out[b] if out[b] else 0.0
    out["dedup.FuzzyDedup.edges_per_candidate"] = ratio(
        "dedup.FuzzyDedup.edges", "dedup.FuzzyDedup.candidate_pairs")
    hits, calls = out["etl.Enrich.rerun_cache_hits"], out["etl.Enrich.rerun_calls"]
    out["etl.Enrich.cache_hit_ratio"] = hits / (hits + calls) if hits + calls else 0.0
    dash = [o for o in traced if "analytics.Dashboard" in o["layers"]]
    out["analytics.Dashboard.compiles_per_query"] = _mean(
        [o["spark"]["codegen_compiles"] for o in dash])
    out["dedup.ScaleDedup.lsh_verified_per_candidate"] = ratio(
        "dedup.ScaleDedup.lsh_verified", "dedup.ScaleDedup.lsh_candidates")
    clus = [o["layers"]["similarity.Clustering"] for o in traced
            if "similarity.Clustering" in o["layers"]]
    out["similarity.Clustering.jobs"] = _mean([c["jobs"] for c in clus])
    out["similarity.Clustering.jobs_per_iter"] = _mean(
        [c["jobs"] / c["counts"]["iters"] for c in clus])
    out["trace.overhead_ratio"] = (
        statistics.median(o["ms"] for o in traced) / statistics.median(o["ms"] for o in plain)
        if traced and plain else 0.0)
    return {m: {"value": out[m], "unit": u} for m, u in PER_LAYER}


def steal_adjusted_ms(ops):
    """Operation times with the hypervisor's stolen share taken out: on a
    shared host that withholds a share s of the CPU time the machine
    wanted while an operation ran, the operation took about 1 / (1 - s)
    of its own time. Without the correction a minutes-long burst of
    steal (a quarter of the CPU was measured) moves whole runs."""
    return [o["ms"] * (1.0 - o.get("stolen", 0.0)) for o in ops]


def _median_detail(ops, key):
    xs = [o["detail"][key] for o in ops if key in o["detail"]]
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


# ------------------------------------------------------------------ run

def run_once(workload, seed, seconds, trace, t_start=T_START):
    """One benchmark run started at `t_start`; returns (result line
    dict, report dict)."""
    import gen
    import check

    classpath, build_s = build()
    cores = max(1, min(4, os.cpu_count() or 1))
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env_start = env_sample()

    # inputs, generated GEN_REPS times: same seed, same bytes
    gen_s, digests = [], []
    input_dir = os.path.join(run_dir, "input")
    for _ in range(GEN_REPS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t0 = time.time()
        gen.generate(workload, seed, input_dir)
        gen_s.append(time.time() - t0)
        digests.append(gen.digest(input_dir))

    work = os.path.join(run_dir, "work")
    result_file = os.path.join(run_dir, "result.json")
    java = ["java"] + JVM_HEAP + [f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "graft.perfbench.BenchMain",
             "--workload", workload, "--input", input_dir, "--work", work,
             "--result", result_file, "--seconds", str(seconds), "--trace", str(trace),
             "--cores", str(cores)]
    t_launch = time.time()
    cpu0 = _cpu_times()
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(java, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start) - build_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded the run limit; see {run_dir}/jvm.log")
    cpu1 = _cpu_times()
    if rc != 0 or not os.path.exists(result_file):
        raise RuntimeError(f"JVM exited with {rc}; see {run_dir}/jvm.log")
    with open(result_file) as f:
        res = json.load(f)

    # correctness, outside the timed spans
    checks = [("inputs.deterministic", len(set(digests)) == 1, f"{len(set(digests))} digests")]
    checks += [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    bad_keys = set()
    facts = res["facts"]
    try:
        if workload.startswith("ipes"):
            checks += check.check_ipes(facts)
        elif workload == "dashboard_queries":
            more, bad_keys = check.check_dashboard(facts, input_dir)
            checks += more
        else:
            checks += check.check_corpus(facts, input_dir)
    except Exception as e:
        checks.append(("checks", False, f"{type(e).__name__}: {e}"[:300]))
    attempted, failed = tally(res["ops"] + res["traced_ops"], checks, bad_keys)
    correct = failed == 0 and all(c[1] for c in checks)

    times = [o["ms"] for o in res["ops"]]
    # set-up: everything before the JVM launch except the build and the
    # repeated input generations (their median counts once), the JVM's
    # boot to a ready session, and the workload's set-up with warm-up
    before_launch = t_launch - t_start - sum(gen_s) - build_s
    setup_s = before_launch + statistics.median(gen_s) + \
        (res["session_ready_ms"] / 1e3 - t_launch) + res["setup_s"]
    metrics = per_layer_metrics(res) if trace else end_to_end_metrics(res, setup_s)
    report = {
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "samples": len(times), "attempted": attempted, "failed": failed,
        "cold_s": _median_detail(res["ops"], "cold_ms") / 1e3,
        "incremental_s": _median_detail(res["ops"], "incremental_ms") / 1e3,
        "op_p90_ms": _quantile(steal_adjusted_ms(res["ops"]), 90) if times else 0.0,
        "op_p50_wall_ms": statistics.median(times) if times else 0.0,
        "failed_ratio": failed / attempted if attempted else 0.0,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "facts": facts,
        "env": {"nproc": os.cpu_count(), "cores_used": cores, "heap_max_mb": res["heap_max_mb"],
                "spark_version": res["spark_version"], "git_commit": _git_commit(),
                "source_digest": open(os.path.join(BUILD, "stamp")).read(),
                "start": env_start, "end": env_sample(), "build_s": build_s,
                # share of all CPU time the hypervisor took while the JVM ran
                "stolen_share": round((cpu1[1] - cpu0[1]) / max(1, cpu1[2] - cpu0[2]), 4),
                "jvm_setup_s": res["setup_s"], "gen_s": gen_s},
        "metrics": metrics,
    }
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return line, report


def _print_report(report):
    env = report["env"]
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']}: "
          f"{report['samples']} timed operations, failed_ratio {report['failed_ratio']:.4f}")
    print(f"env nproc={env['nproc']} cores_used={env['cores_used']} "
          f"heap_max_mb={env['heap_max_mb']} spark={env['spark_version']} "
          f"commit={env['git_commit'] or env['source_digest'][:12]} "
          f"load_start={env['start']} load_end={env['end']}")
    for c in report["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")


# the user-facing figures first proposed per workload, from their end-to-end runs
def print_summary(reports):
    r = {x["workload"]: x for x in reports}

    def m(w, name):
        return r[w]["metrics"][name]["value"]
    docs = r["corpus_curation"]["facts"].get("input_docs", 0)
    ipes = r["ipes_pipeline"]
    rows = [
        ("setup_s", max(m(w, "setup_s") for w in r), "s"),
        ("ipes_cold_s", ipes["cold_s"], "s"),
        ("ipes_incremental_s", ipes["incremental_s"], "s"),
        ("query_p50_ms", m("dashboard_queries", "op_p50_ms"), "ms"),
        ("query_p90_ms", r["dashboard_queries"]["op_p90_ms"], "ms"),
        ("corpus_docs_per_s", docs / (m("corpus_curation", "op_p50_ms") / 1e3), "1/s"),
        ("failed_ratio", sum(x["failed"] for x in reports) /
         max(1, sum(x["attempted"] for x in reports)), "ratio"),
        ("peak_rss_mb", max(m(w, "peak_rss_mb") for w in r), "MB"),
    ]
    print(f"dashboard_queries samples: {r['dashboard_queries']['samples']}")
    for name, value, unit in rows:
        print(f"{name} {value:.4f} {unit}")
    return {name: {"value": value, "unit": unit} for name, value, unit in rows}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and print the per-workload figures")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
        return 1
    sys.path.insert(0, HERE)
    try:
        if a.all:
            reports, ok = [], True
            for w in WORKLOADS:
                line, report = run_once(w, a.seed, a.seconds, 0, time.time())
                _print_report(report)
                reports.append(report)
                ok = ok and line["correct"]
            print(json.dumps({"correct": ok, "attempted": sum(x["attempted"] for x in reports),
                              "failed": sum(x["failed"] for x in reports),
                              "metrics": print_summary(reports)}))
            return 0 if ok else 2
        line, report = run_once(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:
        log(f"run failed: {type(e).__name__}: {e}")
        return 1
    _print_report(report)
    print(json.dumps(line))
    return 0 if line["correct"] else 2


if __name__ == "__main__":
    sys.exit(main())
