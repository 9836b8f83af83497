#!/usr/bin/env python3
"""Process-isolated bench driver (dev tool, stdlib only).

Runs each named query in its OWN JVM with a fresh SPARK_LOCAL_DIRS, so a
heavy query is never timed under a prior query's accumulated shuffle
garbage (round 7 measured q_triangles 82.3s in-sequence vs 37.3s
isolated at sf1 — >2x positional distortion). Medians across N JVM
invocations per query, then merges everything into one artifact with
per-query best/median/worst.

Usage:
  bench_isolated.py <sfDir> <out.json> [--runs N] [--xmx 16g]
                    [--queries a,b,c | --auto-over SECONDS]

--queries: isolate exactly these queries.
--auto-over S (default 2.0): first run the shared-JVM bench once
  (graft.Bench, which already medians sub-2s queries within the JVM),
  keep its numbers for queries faster than S, and re-run every query
  slower than S isolated.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSPATH = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"


def run_jvm(env_extra, xmx, out_path):
    env = dict(os.environ)
    env.update(env_extra)
    env["SPARK_GRAFT_BENCH_OUT"] = out_path
    local_dirs = tempfile.mkdtemp(prefix="graft_bench_")
    env["SPARK_LOCAL_DIRS"] = local_dirs
    try:
        # same module-opens set as build.sbt's jdk17AddOpens
        opens = ["java.base/java.lang", "java.base/java.lang.invoke",
                 "java.base/java.lang.reflect", "java.base/java.io",
                 "java.base/java.net", "java.base/java.nio",
                 "java.base/java.util", "java.base/java.util.concurrent",
                 "java.base/java.util.concurrent.atomic",
                 "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                 "java.base/sun.security.action",
                 "java.base/sun.util.calendar"]
        r = subprocess.run(
            ["java", f"-Xmx{xmx}", "-XX:+UseG1GC", "-cp", CLASSPATH]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in opens]
            + ["graft.Bench"],
            env=env, capture_output=True, text=True, timeout=3600)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
            raise RuntimeError(f"bench JVM failed rc={r.returncode}")
        with open(out_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(local_dirs, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sfdir")
    ap.add_argument("out")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--xmx", default="16g")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--auto-over", type=float, default=2.0)
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="graft_benchout_")
    base_env = {"SPARK_GRAFT_SF_DIR": args.sfdir}
    shared_runs = {}  # name -> [seconds] from the shared pass
    if args.queries:
        isolate = args.queries.split(",")
    else:
        print("[isolated] shared-JVM pass over all queries ...", flush=True)
        shared = run_jvm(base_env, args.xmx, f"{tmp}/shared.json")
        shared_runs = shared["runs"]
        isolate = sorted(n for n, v in shared["queries"].items()
                         if v >= args.auto_over)
        print(f"[isolated] {len(isolate)} queries over "
              f"{args.auto_over}s get their own JVMs: {isolate}", flush=True)

    # One JVM per query: an UNTIMED full run of the query itself warms
    # JIT + whole-stage codegen (a light warm-up leaves the first timed
    # run paying 3-5x cold-JVM penalty at sf0.1 query sizes — measured
    # q_bulk_load_fact 26s cold vs 8.5s warm), then --runs timed runs
    # median inside the same JVM. Positional isolation is preserved
    # (fresh SPARK_LOCAL_DIRS, no other query's shuffle garbage).
    iso_runs = {}  # name -> [seconds within the query's own JVM]
    for name in isolate:
        env = dict(base_env)
        env["SPARK_GRAFT_BENCH_ONLY"] = name
        env["SPARK_GRAFT_BENCH_RUNS"] = str(args.runs)
        out = run_jvm(env, args.xmx, f"{tmp}/{name}.json")
        times = out["runs"][name]
        iso_runs[name] = times
        print(f"[isolated] {name}: "
              + " ".join(f"{t:.2f}s" for t in times), flush=True)

    def stats(runs):
        s = sorted(runs)
        return {"best": s[0], "median": s[len(s) // 2], "worst": s[-1],
                "runs": runs}

    queries = {}
    for name, runs in shared_runs.items():
        if name not in iso_runs:
            queries[name] = stats(runs)
    for name, runs in iso_runs.items():
        queries[name] = {**stats(runs), "isolated": True}

    total = sum(v["median"] for v in queries.values())
    artifact = {
        "metric": "total", "value": round(total, 2), "unit": "sec",
        "sf": args.sfdir, "isolation": "per-query JVM for slow queries",
        "runs_per_isolated_query": args.runs,
        "queries": {k: round(v["median"], 3)
                    for k, v in sorted(queries.items())},
        "detail": {k: v for k, v in sorted(queries.items())},
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"metric": "total", "value": round(total, 2),
                      "unit": "sec", "sf": args.sfdir,
                      "queries": artifact["queries"]}))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
