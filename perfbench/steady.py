"""Steadiness self-check: runs the benchmark in two sets of runs of the
same code and prints, for every end-to-end metric of every workload,
each set's spread (inter-quartile range over the median) against the
metric's bound, and how far the second set's median moved from the
first's.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --runs 5 --sets 1 --workload vector_lifecycle

Run from the repository root. Set k uses seeds base+1 .. base+runs
(the same seeds in every set). A summary is written to
.bench_build/perfbench/steady.json.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def one_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print(f"  {workload} seed {seed}: INCORRECT ({result['failed']} failed)")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    summary = {}
    for w in workloads:
        sets = []
        for k in range(a.sets):
            runs = []
            for i in range(1, a.runs + 1):
                runs.append(one_run(w, a.seed_base + i, bench["run_seconds"]))
                print(f"{w} set {k + 1} run {i}: " + ", ".join(
                    f"{m}={v:.4f}" for m, v in runs[-1].items()), flush=True)
            sets.append(runs)
        summary[w] = {}
        print(f"\n== {w}")
        print(f"{'metric':<14} {'bound':>6} " + " ".join(
            f"{'median' + str(k + 1):>10} {'spread' + str(k + 1):>8}"
            for k in range(a.sets)) + (f" {'drift':>7}" if a.sets > 1 else ""))
        for m in metrics:
            name = m["name"]
            row = {"bound": m["bound"], "sets": []}
            for runs in sets:
                vals = [r[name] for r in runs]
                med = stats.median(vals)
                spr = stats.spread(vals) if len(vals) > 1 and med else 0.0
                row["sets"].append({"median": med, "spread": spr,
                                    "values": vals})
            line = f"{name:<14} {m['bound']:>6.3f} " + " ".join(
                f"{s['median']:>10.4f} {s['spread']:>8.4f}" for s in row["sets"])
            if a.sets > 1:
                first, last = row["sets"][0]["median"], row["sets"][-1]["median"]
                row["drift"] = stats.worse_by(first, last, m["better"]) if first else 0.0
                line += f" {row['drift']:>7.4f}"
            ok_spread = all(s["spread"] <= m["bound"] for s in row["sets"])
            ok_drift = row.get("drift", 0.0) <= m["bound"]
            target = all(s["spread"] <= m["bound"] / 3 for s in row["sets"])
            line += "  ok" if ok_spread and ok_drift else "  OUT OF BOUND"
            if not target:
                line += " (spread above a third of the bound)"
            print(line)
            summary[w][name] = row
        # written after each workload, so a cut-short check keeps them
        os.makedirs(os.path.join(".bench_build", "perfbench"), exist_ok=True)
        with open(os.path.join(".bench_build", "perfbench", "steady.json"), "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
