"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion_season --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py) on first use, runs the workload in one JVM at
local[<cores>], checks its outputs, and prints human-readable lines
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 a Spark listener attributes jobs, task
time and shuffle to the benchmark's spans and the metrics are the
per-layer ones. Raw observations, the JVM log and (traced) the
per-layer table are kept under .bench_build/perfbench/runs/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("medallion_season", "vector_lifecycle")
# the refresh-equals-backfill self-check; not a timed workload
SELFCHECK = "medallion_selfcheck"

SPANS = {
    "medallion_season": [
        f"{phase}.{layer}"
        for phase in ("backfill", "refresh")
        for layer in ("silver.plays", "pbp.enrich", "pbp.stats",
                      "rollup.daily", "rollup.adj", "gold.runner")],
    "vector_lifecycle": [
        "operators.kmeans", "queries.pq_train", "streaming.apply",
        "streaming.compact", "queries.graph_build", "queries.serve"],
}
COUNTERS = (("self_s", "s"), ("driver_s", "s"), ("jobs", "count"),
            ("task_s", "s"), ("shuffle_mb", "MiB"))
EXTRA_LAYER = (("backfill.ratings.sweeps", "count"),
               ("refresh.ratings.sweeps", "count"),
               ("queries.serve.rows_per_result", "rows"),
               ("queries.serve.recall_at_3", "ratio"))
# the operations whose CPU seconds make up job_cpu_s
JOB_KINDS = {"medallion_season": ("backfill",),
             "vector_lifecycle": ("batch", "publish", "serve"),
             SELFCHECK: ("selfcheck",)}
END_TO_END = (("setup_s", "s"), ("peak_heap_mb", "MiB"), ("ok_share", "ratio"),
              ("job_cpu_s", "s"))

JVM_TIMEOUT_S = 170
SELFCHECK_TIMEOUT_S = 900  # four passes of the chain; not a timed workload
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def layer_names():
    names = [(f"{s}.{c}", u) for w in WORKLOADS for s in SPANS[w]
             for c, u in COUNTERS]
    return names + list(EXTRA_LAYER)


def run_jvm(classpath, workload, seed, seconds, trace, run_dir, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx2g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--out", out, "--work", work]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            limit = SELFCHECK_TIMEOUT_S if workload == SELFCHECK else JVM_TIMEOUT_S
            code = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {workload} exceeded "
                             f"{limit} s; see {run_dir}/jvm.log")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: JVM exited {code}; see {run_dir}/jvm.log")
    with open(out) as fh:
        return json.load(fh)


def job_ops(workload, raw):
    """The operations a workload's job consists of. The job holds a
    fixed number of serves; the serves the time window adds beyond them
    only add samples to serve_p50_s."""
    out = []
    for kind in JOB_KINDS[workload]:
        xs = raw["ops"][kind]
        out += xs[:int(raw["values"]["job_serves"])] if kind == "serve" else xs
    return out


def end_to_end(workload, raw):
    """The end-to-end metrics plus the named figures behind them."""
    ops = {k: [o["s"] for o in v] for k, v in raw["ops"].items()}
    info = {}
    if workload == "vector_lifecycle":
        info["batch_p50_s"] = (stats.median(ops["batch"]), "s")
        info["publish_s"] = (sum(ops["publish"]), "s")
        info["serve_p50_s"] = (stats.median(ops["serve"]), "s")
        t = stats.tail(ops["serve"])
        if t:
            info[f"serve_tail_s (p{t[1]:.1f})"] = (t[0], "s")
        v = raw["values"]
        info["recall_at_3"] = (v["recall_hits"] / v["recall_truth"], "ratio")
        info["served_rows (of 60)"] = (v["serve_rows"], "count")
        info["queries_with_entry (of 20)"] = (v["serve_entered"], "count")
    else:
        info["backfill_s" if workload == "medallion_season" else "selfcheck_s"] = (
            sum(ops[JOB_KINDS[workload][0]]), "s")
        if "refresh" in ops:
            info["refresh_p50_s"] = (stats.median(ops["refresh"]), "s")
    job = job_ops(workload, raw)
    info["job_s"] = (sum(o["s"] for o in job), "s")
    info["job_process_cpu_s"] = (sum(o["proc_cpu_s"] for o in job), "s")
    info["setup_wall_s"] = (stats.median(ops["setup"]), "s")
    attempted = sum(len(v) for v in raw["ops"].values())
    failed = sum(1 for v in raw["ops"].values() for o in v if o["error"])
    info["error_rate"] = (stats.error_rate(attempted, failed), "ratio")
    info["heap_after_any_gc_mb"] = (raw["heap_gc_peak_mib"], "MiB")
    info["heap_between_ops_mb"] = (raw["heap_sampled_peak_mib"], "MiB")
    samples = {k: len(v) for k, v in ops.items()}
    metrics = {
        "setup_s": stats.median([o["cpu_s"] for o in raw["ops"]["setup"]]),
        "peak_heap_mb": max(raw["heap_gc_peak_mib"],
                            raw["heap_sampled_peak_mib"]),
        "ok_share": 1.0 - info["error_rate"][0],
        "job_cpu_s": sum(o["cpu_s"] for o in job),
    }
    return metrics, info, samples, attempted, failed


def per_layer(raw):
    spans = raw["spans"]
    out = {}
    for name, _ in layer_names():
        span, _, counter = name.rpartition(".")
        if span in spans and counter in spans[span]:
            out[name] = spans[span][counter]
    v = raw["values"]
    for key in ("backfill.ratings.sweeps", "refresh.ratings.sweeps"):
        out[key] = v.get(key, 0.0)
    serve = spans.get("queries.serve", {})
    queries = v.get("serve_queries", 0.0)
    out["queries.serve.rows_per_result"] = (
        serve.get("input_rows", 0.0) / (queries * 3) if queries else 0.0)
    out["queries.serve.recall_at_3"] = (
        v["recall_hits"] / v["recall_truth"] if v.get("recall_truth") else 0.0)
    return {name: out.get(name, 0.0) for name, _ in layer_names()}


def write_layer_table(path, raw):
    rows = ["span\tcount\ttotal_s\tself_s\tdriver_s\tjobs\ttask_s\tshuffle_mb"]
    for span in sorted(raw["spans"]):
        m = raw["spans"][span]
        rows.append("\t".join([span] + [f"{m.get(k, 0.0):.4f}" for k in (
            "count", "total_s", "self_s", "driver_s", "jobs", "task_s",
            "shuffle_mb")]))
    with open(path, "w") as fh:
        fh.write("\n".join(rows) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + (SELFCHECK,))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    classpath = build.ensure_built()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(build.OUT, "runs", tag)
    work = os.path.abspath(os.path.join(build.OUT, "work", tag))
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace,
                      run_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info, samples, attempted, failed = end_to_end(a.workload, raw)
    for k, (v, unit) in info.items():
        print(f"{k} = {v:.4f} {unit}")
    print("samples: " + ", ".join(f"{k}={n}" for k, n in samples.items()))
    if a.trace:
        write_layer_table(os.path.join(run_dir, "layers.tsv"), raw)
        print("end-to-end under tracing: " + ", ".join(
            f"{k}={v:.4f}" for k, v in e2e.items()))
        units = dict(layer_names())
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in per_layer(raw).items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    for span, ops in raw["ops"].items():
        for o in ops:
            if o["error"]:
                print(f"FAILED {span}: {o['error'][:500]}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with open(os.path.join(run_dir, "metrics.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
