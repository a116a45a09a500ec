#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload daily|curate|queries --seed N \
        --seconds S --trace 0|1

Run it from the repository root. It builds the program and the harness from
source with the Scala compiler that ships in /opt/spark/jars (into
$CARGO_TARGET_DIR, default .bench_build, reused while the sources are
unchanged), generates the workload's inputs from the seed, runs the harness
JVM (set-up, one untimed warm-up round, set-up four more times, then timed
rounds of the workload for S seconds, at least one), checks the outputs of
every round after the JVM has exited and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (BENCHMARK.json).
It exits 1 after the result line when an operation or an output check
failed, and nonzero without a result line when it cannot build or run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import check  # noqa: E402
import gen  # noqa: E402

SPARK_JARS = "/opt/spark/jars"
SCALA_JARS = [f"{SPARK_JARS}/scala-{j}-2.13.17.jar" for j in ("compiler", "library", "reflect")]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HERE = os.path.dirname(os.path.abspath(__file__))

# Workload sizes. Each round of a workload takes a few seconds, so a run
# measures several rounds and reports medians over them.
DAILY_SYNTHETIC_DAYS, DAILY_POSTS_PER_DAY = 1, 350
CURATE_DOCS = 1600          # 2 batches at slice 1000 / overlap 200
QUERIES_SF = 0.005          # lineitem 30 000 rows
TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def scalac(classpath, out, sources):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                    "-cp", ":".join(SCALA_JARS), "scala.tools.nsc.Main",
                    "-nowarn", "-usejavacp", "-cp", classpath, "-d", tmp] + sources,
                   check=True, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir):
    """Compile src/main and the harness unless the sources are unchanged."""
    main_src = sorted(glob.glob("src/main/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main_src:
        raise SystemExit("perfbench: no src/main sources here; run from the repository root")
    digest = hashlib.sha256()
    for p in main_src + bench_src:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp_path = os.path.join(build_dir, "stamp")
    classes, harness = os.path.join(build_dir, "classes"), os.path.join(build_dir, "harness")
    if os.path.exists(stamp_path) and open(stamp_path).read() == digest.hexdigest():
        return classes, harness
    os.makedirs(build_dir, exist_ok=True)
    t0 = time.time()
    scalac(f"{SPARK_JARS}/*", classes, main_src)
    scalac(f"{classes}:{SPARK_JARS}/*", harness, bench_src)
    with open(stamp_path, "w") as f:
        f.write(digest.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return classes, harness


def generate(workload, data, seed):
    if workload == "daily":
        gen.daily(".", data, seed, DAILY_SYNTHETIC_DAYS, DAILY_POSTS_PER_DAY)
    elif workload == "curate":
        gen.curate(data, seed, CURATE_DOCS)
    else:
        gen.queries(data, seed, QUERIES_SF)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["daily", "curate", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes, harness = build(build_dir)
    t_start = time.time()
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, tmp = os.path.join(run_dir, "input"), os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        generate(a.workload, data, a.seed)
        t_gen = time.time()
        cpus = len(os.sched_getaffinity(0))
        out = os.path.join(run_dir, "result.json")
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_ARTIFACT_DIR=os.path.join(run_dir, "artifacts"))
        cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
               ["-cp", f"{harness}:{classes}:{SPARK_JARS}/*", "perfbench.Harness",
                f"workload={a.workload}", f"data={data}", f"run={run_dir}",
                f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={cpus}",
                f"seed={a.seed}", f"out={out}"])
        subprocess.run(cmd, env=env, check=True, stdout=sys.stderr,
                       timeout=max(10, TIMEOUT_S - (time.time() - t_start)))
        t_jvm = time.time()
        with open(out) as f:
            res = json.load(f)

        # the warm-up round is not timed, but its outputs are checked too
        rounds = res["rounds"]
        checked = [res["warmup"]] + rounds
        dirs = [r["dir"] for r in checked]
        if a.workload == "daily":
            fails = check.daily(".", data, dirs)
        elif a.workload == "curate":
            fails = check.curate(data, dirs)
        else:
            fails = check.queries(data, dirs, res["oracle"])
        for msg in fails:
            log(f"CHECK FAILED {msg}")
        ops = [o for r in checked for o in r["ops"]]
        for o in ops:
            if o["failed"]:
                log(f"OPERATION FAILED {o['name']}")
        attempted = len(ops)
        failed = min(attempted, sum(o["failed"] for o in ops) + len(fails))

        per_round = [[o["s"] for o in r["ops"]] for r in rounds]
        log(f"{a.workload}: {len(rounds)} rounds of {len(per_round[0])} ops, "
            f"walls {[round(r['wall_s'], 3) for r in rounds]} after a warm-up of "
            f"{res['warmup']['wall_s']:.3f}, set-ups {res['setup_s']}; generate "
            f"{t_gen - t_start:.1f} s, JVM {t_jvm - t_gen:.1f} s, "
            f"check {time.time() - t_jvm:.1f} s; slowest ops "
            f"{sorted(((round(o['s'], 2), o['name']) for o in ops), reverse=True)[:5]}")
        if a.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["per_layer"].items()}
            metrics["setup.first_s"] = {"value": res["setup_s"][0], "unit": "s"}
            metrics["jvm.peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
            metrics["ops.p50_s"] = {"value": statistics.median(
                statistics.median(v) for v in per_round), "unit": "s"}
            log("spark by parent: " + json.dumps(res["spark_by_parent"]))
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"),
                            os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": {"value": statistics.median(res["setup_s"]), "unit": "s"},
                "wall_s": {"value": statistics.median(r["wall_s"] for r in rounds), "unit": "s"},
            }
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if failed:
        sys.exit(1)


def unit_of(name):
    if name.endswith(("_s", ".s")) or name.startswith("self_s."):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("flow.concurrency", "spark.slot_util", "spark.task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
