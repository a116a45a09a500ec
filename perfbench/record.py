#!/usr/bin/env python3
"""Record a baseline: for each workload, ten untraced runs on seeds 1..10
(the median and the spread of every end-to-end metric, the spread being the
distance between the first and third quartile over the median), then one
traced run whose per-layer metrics become a markdown table.

    python3 perfbench/record.py OUT_DIR [workload ...] [--seeds N] [--set NAME]

Run it from the repository root. It writes OUT_DIR/<set>.json and, unless
--no-trace is given, OUT_DIR/per_layer.md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
           str(seed), "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{p.stderr[-3000:]}")
    by_parent = [l for l in p.stderr.splitlines() if "spark by parent: " in l]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if by_parent:
        res["spark_by_parent"] = json.loads(by_parent[-1].split("spark by parent: ", 1)[1])
    return res


def summary(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "spread": (q[2] - q[0]) / med, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--set", default="set1")
    ap.add_argument("--no-trace", action="store_true")
    a = ap.parse_args()
    names = a.workloads or [w["name"] for w in BENCH["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    record, traced = {}, {}
    for w in names:
        runs = [run(w, s, 0) for s in range(a.first_seed, a.first_seed + a.seeds)]
        record[w] = {
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "correct": all(r["correct"] for r in runs),
            "metrics": {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs])
                        for m in BENCH["end_to_end"]}}
        for m, s in record[w]["metrics"].items():
            bound = next(x["bound"] for x in BENCH["end_to_end"] if x["name"] == m)
            print(f"{w:8s} {m:10s} median {s['median']:.4f} spread {s['spread']:.4f} "
                  f"(bound {bound})", flush=True)
        if not a.no_trace:
            traced[w] = run(w, a.first_seed, 1)
    with open(os.path.join(a.out, f"{a.set}.json"), "w") as f:
        json.dump({"run_seconds": BENCH["run_seconds"], "seeds": [a.first_seed, a.first_seed + a.seeds - 1],
                   "workloads": record}, f, indent=1)
    if traced:
        write_table(os.path.join(a.out, "per_layer.md"), traced, record)


def write_table(path, traced, record):
    lines = ["# Per-layer metrics, one traced run per workload (seed 1)", "",
             "Means per timed round. Tracing overhead = traced `trace.wall_s` minus the",
             "median untraced `wall_s` of the same commit.", ""]
    names = list(traced)
    lines += ["| workload | traced wall_s | untraced median wall_s | tracing overhead s |"
              " sum of self_s.* |", "|---|---|---|---|---|"]
    for w in names:
        m = {k: v["value"] for k, v in traced[w]["metrics"].items()}
        untraced = record[w]["metrics"]["wall_s"]["median"]
        self_sum = sum(v for k, v in m.items() if k.startswith("self_s."))
        lines.append(f"| {w} | {m['trace.wall_s']:.3f} | {untraced:.3f} | "
                     f"{m['trace.wall_s'] - untraced:+.3f} | {self_sum:.3f} |")
    lines += ["", "| metric | unit | " + " | ".join(names) + " |",
              "|---|---|" + "---|" * len(names)]
    keys = sorted(set().union(*(traced[w]["metrics"] for w in names)))
    for k in keys:
        unit = next(traced[w]["metrics"][k]["unit"] for w in names if k in traced[w]["metrics"])
        cells = [f"{traced[w]['metrics'][k]['value']:.6g}" if k in traced[w]["metrics"] else ""
                 for w in names]
        lines.append(f"| `{k}` | {unit} | " + " | ".join(cells) + " |")
    for w in names:
        parents = traced[w].get("spark_by_parent", {})
        if not parents:
            continue
        cols = ["jobs", "stages", "tasks", "executor_busy_s", "job_gap_s", "gc_s",
                "shuffle_write_bytes", "input_bytes", "output_bytes", "task_skew"]
        lines += ["", f"## `spark.*` per task class or query phase: {w}", "",
                  "| parent | " + " | ".join(cols) + " |", "|---|" + "---|" * len(cols)]
        for p, v in sorted(parents.items()):
            lines.append(f"| {p} | " + " | ".join(f"{v.get(c, 0):.4g}" for c in cols) + " |")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
