"""Archive a baseline: one untraced and one traced run per workload at
one seed, the per-layer table of each traced run, and the tracing
overhead (traced minus untraced end-to-end figures).

    python3 perfbench/archive.py --seed 1 --out perfbench/results

Run from the repository root. Writes <out>/baseline.json and
<out>/layers_<workload>.tsv.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace {trace} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join("perfbench", "results"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    os.makedirs(a.out, exist_ok=True)
    archive = {}
    for w in (x["name"] for x in bench["workloads"]):
        plain, plain_info = run(w, a.seed, bench["run_seconds"], 0)
        traced, traced_info = run(w, a.seed, bench["run_seconds"], 1)
        # the traced run prints its own end-to-end figures on one line
        under = next(l for l in traced_info
                     if l.startswith("end-to-end under tracing: "))
        traced_e2e = {k: float(v) for k, v in (
            kv.split("=") for kv in under.split(": ", 1)[1].split(", "))}
        untraced = {k: m["value"] for k, m in plain["metrics"].items()}
        archive[w] = {
            "untraced": plain, "untraced_info": plain_info,
            "traced": traced, "traced_info": traced_info,
            "tracing_overhead": {k: traced_e2e[k] - untraced[k]
                                 for k in untraced if k in traced_e2e},
        }
        tag = f"{w}-seed{a.seed}-trace1"
        shutil.copy(os.path.join(build.OUT, "runs", tag, "layers.tsv"),
                    os.path.join(a.out, f"layers_{w}.tsv"))
    with open(os.path.join(a.out, "baseline.json"), "w") as fh:
        json.dump(archive, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
