#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program and the JVM harness from source with sbt (into `target/` and
`perfbench/target/`); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM
sized from the host, times set-up, warms up with one untimed iteration,
then runs timed iterations for the given seconds, checks every iteration's
output and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`). The line before it holds the run's
details: sample counts, tail percentiles, host, configuration and input
manifest. Details and, for traced runs, the profile are also written under
`.bench_build/`. The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = list(gen.SIZES)
BUILD = ".bench_build"
CDS_ARCHIVE = "classes.jsa"
# a run must end within 180 s; the first one in a checkout may also build
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 720
# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# files whose change means the build is stale
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, h):
    """Compiles the program and the harness unless the sources are
    unchanged since the last build, then trains the JVM's class-data
    archive; returns the JVM classpath."""
    stamp_file = os.path.join(root, BUILD, "build.stamp")
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the program")
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as out:
        # offline: every dependency comes from the local caches
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.supershell=false",
             "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
             "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
            stderr=out, text=True, timeout=BUILD_BUDGET_S,
            env={**os.environ, "COURSIER_MODE": "offline"})
        out.write(p.stdout)
    cps = [ln for ln in p.stdout.splitlines()
           if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    cp = cps[-1]
    train_cds(root, cp, h)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def train_cds(root, cp, h):
    """Writes the class-data archive every later JVM maps at start: the
    JDK, Spark and program classes that one untimed iteration of each
    workload loads. It shortens class loading, identically for every
    workload and run, and changes no code that runs."""
    archive = os.path.join(root, BUILD, CDS_ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(root, BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    manifests = {w: gen.generate(w, 0, os.path.join(work, "in", w))
                 for w in WORKLOADS}
    first = WORKLOADS[0]
    probe = os.path.join(work, "in", first, min(manifests[first]["files"]))
    try:
        run_jvm(cp, ["--workload", ",".join(WORKLOADS),
                     "--input", os.path.join(work, "in"), "--work", work,
                     "--seconds", "0", "--trace", "0", "--train", "1",
                     "--probe", probe,
                     "--out", os.path.join(work, "result.json")],
                work, h, time.time() + BUILD_BUDGET_S,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024}


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def heap_mb(h):
    # a fifth of the host's memory, at most 3 GiB: the inputs are small,
    # and the host is shared
    return max(1024, min(3072, h["mem_total_mb"] // 5))


def run_jvm(cp, args, work, h, deadline, extra_flags):
    argfile = os.path.join(work, "jvm.args")
    with open(argfile, "w") as f:
        f.write(f"-cp {cp}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_mb(h)}m", "-XX:+UseG1GC",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false"] + extra_flags
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=out)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the JVM did not finish in time", 3)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with {p.returncode}", 3)


def tail(samples):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, or None when there are too few samples for any."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if len(samples) * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return None
    s = sorted(samples)
    return {"p": best, "value": s[min(len(s) - 1,
                                      int(len(s) * best / 100))],
            "n": len(s)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    h = host()
    cp = build(root, h)
    phases = {"build_s": time.time() - t_start}
    deadline = time.time() + RUN_BUDGET_S - 15
    work = os.path.join(root, BUILD, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    manifest = gen.generate(a.workload, a.seed, inp)
    phases["generate_s"] = time.time() - t_start - sum(phases.values())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        out = os.path.join(work, "result.json")
        probe = os.path.join(inp, min(manifest["files"]))
        archive = os.path.join(root, BUILD, CDS_ARCHIVE)
        run_jvm(cp, ["--workload", a.workload, "--input", inp,
                     "--work", work, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--probe", probe,
                     "--out", out], work, h, deadline,
                [f"-XX:SharedArchiveFile={archive}"]
                if os.path.exists(archive) else [])
        phases["jvm_s"] = time.time() - t_start - sum(phases.values())
        with open(out) as f:
            res = json.load(f)
        report = summarise(a, res, manifest, inp, h, root)
        phases["check_s"] = time.time() - t_start - sum(phases.values())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["details"]["wall_s"] = {"total": time.time() - t_start, **phases}
    print(json.dumps(report["details"], sort_keys=True))
    print(json.dumps(report["line"]))
    sys.exit(0 if report["line"]["correct"] else 1)


def summarise(a, res, manifest, inp, h, root):
    timed = res["iterations"]
    ok = [it for it in timed if it["ok"]]
    errors = list(res["failures"])
    bad = []
    for it in ok:
        errs = check.CHECKS[a.workload](inp, manifest, it["outputs"],
                                        res["oracles"])
        if errs:
            bad.append(it)
            errors += [f"iteration {it['i']}: {e}" for e in errs]
    # an operation is one timed job or step; a failed iteration counts as
    # one failed operation, and every operation of an iteration whose
    # output check failed counts as failed
    attempted = sum(1 + len(it["steps_s"]) for it in ok) + \
        (len(timed) - len(ok))
    failed = (len(timed) - len(ok)) + sum(1 + len(it["steps_s"])
                                          for it in bad)
    jobs = [it["job_s"] for it in ok]
    steps = [t for it in ok for t in it["steps_s"]]
    out_key = {"warehouse_load": "warehouse", "corpus_funnel": "funnel",
               "nearline_dedup": "state", "vector_search": "index"}
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "job_s": (statistics.median(jobs), "s") if jobs else None,
        "step_p50_s": (statistics.median(steps), "s") if steps else None,
        "rows_per_s": (manifest["rows_per_iteration"]
                       / statistics.median([it["iter_s"] for it in ok]),
                       "rows/s") if ok else None,
        "heap_live_peak_mb": (max(it["heap_live_mb"] for it in timed), "MB"),
    }
    details = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "iterations": len(timed),
        "samples": {"job_s": len(jobs), "step_s": len(steps)},
        "tails": {"job_s": tail(jobs), "step_s": tail(steps)},
        "setup_s_runs": res["setup_s"],
        "errors": errors,
        "host": {**h, **res["host"], "heap_mb": heap_mb(h)},
        "git_commit": git_commit(root), "spark_conf": res["spark_conf"],
        "write_settings": "parquet (snappy) to local disk; no fsync; "
                          "Spark's default commit protocol",
        "manifest": manifest,
    }
    if a.workload == "vector_search" and ok:
        details["recall_at_10"] = check.recall_at_10(inp, ok[-1]["outputs"])[0]
    if a.trace:
        extra = {
            "files": statistics.mean(
                check.dir_files(it["outputs"][out_key[a.workload]])
                for it in ok) if ok else 0.0,
            "state_bytes": statistics.mean(
                check.dir_bytes(it["outputs"]["state"]) for it in ok)
            if a.workload == "nearline_dedup" and ok else 0.0}
        metrics = {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in
                   layers.per_layer(res, extra).items()}
        profile = {"details": details, "per_layer": metrics,
                   **layers.summary(res), "raw": res["profile"],
                   "iterations": [{k: v for k, v in it.items()
                                   if k != "outputs"} for it in timed]}
        pdir = os.path.join(root, BUILD, "profiles")
        os.makedirs(pdir, exist_ok=True)
        ppath = os.path.join(pdir, f"{a.workload}-seed{a.seed}.json")
        with open(ppath, "w") as f:
            json.dump(profile, f, sort_keys=True)
        details["profile"] = os.path.relpath(ppath, root)
    else:
        missing = [k for k, v in e2e.items() if v is None]
        if missing:
            errors.append(f"no samples for {', '.join(missing)}")
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()
                   if v is not None}
    correct = not errors
    line = {"correct": correct, "attempted": max(1, attempted),
            "failed": failed if correct else max(1, failed),
            "metrics": metrics}
    return {"line": line, "details": details}


if __name__ == "__main__":
    main()
