"""Per-layer numbers from one traced run: the run's raw samples plus the
profile the JVM side recorded (spans, named counts, Spark jobs with their
stages, Catalyst phase times).

`per_layer(result, extra)` returns every per-layer metric of BENCHMARK.json
as a number; a layer a workload does not use reads 0. `summary(result)`
returns the tables a profile file keeps for layer-by-layer comparison: self
time per layer and span name, and Spark jobs grouped by the program module
that started them.
"""
import re
import statistics

STAGES = {"EXTRACT": "extract", "TRANSFORM": "transform",
          "LOAD_DIM": "load_dim", "LOAD_FACT": "load_fact",
          "SUMMARISE": "summarise"}
SPAN_METRICS = {
    "io.extract_s": ["EXTRACT:"],
    "warehouse.load_dim_s": ["LOAD_DIM:load_dm_customer",
                             "warehouse.load_dim"],
    "warehouse.load_fact_s": ["LOAD_FACT:load_ft_orders",
                              "warehouse.load_fact"],
    "warehouse.delta_extract_s": ["warehouse.delta_extract"],
    "warehouse.scd2_s": ["LOAD_DIM:load_dm_customer_hist",
                         "warehouse.scd2"],
    "dedup.exact_s": ["dedup.exact"],
    "dedup.neardup_s": ["dedup.neardup"],
    "text.quality_s": ["text.quality"],
    "text.nb_s": ["text.nb"],
    "text.ppl_s": ["text.ppl"],
    "text.decontam_s": ["text.decontam"],
    "text.dsir_s": ["text.dsir"],
    "text.pack_s": ["text.pack"],
    "dedup.cc_apply_s": ["dedup.cc_apply"],
    "similarity.kmeans_s": ["similarity.kmeans"],
    "similarity.pq_train_s": ["similarity.pq_train"],
    "similarity.search_s": ["similarity.search"],
}
# every per-layer metric with its unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    **{f"pipeline.stage_s.{k}": "s" for k in
       ("extract", "transform", "load_dim", "load_fact", "summarise")},
    "pipeline.op_s": "s", "pipeline.barrier_idle_s": "s",
    "dataflow.steps": "count", "dataflow.step_s": "s",
    "io.extract_s": "s", "warehouse.load_dim_s": "s",
    "warehouse.load_fact_s": "s", "warehouse.delta_extract_s": "s",
    "warehouse.scd2_s": "s", "dedup.exact_s": "s", "dedup.neardup_s": "s",
    "text.quality_s": "s", "text.nb_s": "s", "text.ppl_s": "s",
    "text.decontam_s": "s", "text.dsir_s": "s", "text.pack_s": "s",
    "dedup.cc_apply_s": "s", "similarity.kmeans_s": "s",
    "similarity.pq_train_s": "s", "similarity.search_s": "s",
    "io.write_s": "s", "io.bytes_written": "bytes",
    "io.files_written": "count", "warehouse.rows_loaded": "count",
    "dedup.neardup_removed": "count", "text.keep_ratio": "ratio",
    "streaming.scan_bytes_per_batch": "bytes",
    "streaming.guard_bytes_per_batch": "bytes",
    "streaming.probe_skip_ratio": "ratio", "streaming.state_bytes": "bytes",
    "steps.late_over_early": "ratio", "similarity.scan_fraction": "ratio",
    "catalyst.actions": "count", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "build.jobs": "count", "build.s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_share": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.stage_skew": "ratio",
}
_FRAME = re.compile(r"\b(graft|perfbench)\.([A-Za-z_]\w*)(\.[A-Za-z_$]|\()")


def module_of(site):
    """The program module whose code started a Spark job: the innermost
    `graft.<package>` frame of the job's call site, `bench` when the
    benchmark's own code made the call, None when the call site holds
    neither (jobs Spark starts on its own threads, such as adaptive query
    stages)."""
    for line in site.splitlines():
        m = _FRAME.search(line)
        if m:
            if m.group(1) == "perfbench":
                return "bench"
            pkg = m.group(2)
            return f"graft.{pkg}" if pkg[0].islower() else "graft"
    return None


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _traced(result):
    return [it for it in result["iterations"] if it["traced"] and it["ok"]]


def _spans(result):
    iters = {it["i"] for it in _traced(result)}
    return [s for s in result["profile"].get("spans", [])
            if s["iter"] in iters]


def _span_s(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def _jobs(result):
    spans = {s["id"]: s for s in _spans(result)}
    return [(j, spans[j["span"]]) for j in result["profile"].get("jobs", [])
            if j["span"] in spans]


def per_layer(result, extra):
    """`extra` holds what only the caller can measure: bytes and files on
    disk of each traced iteration's output, averaged."""
    traced = _traced(result)
    n = max(1, len(traced))
    spans = _spans(result)
    counts = {}
    for c in result["profile"].get("counts", []):
        if c["iter"] in {it["i"] for it in traced}:
            counts.setdefault(c["name"], []).append(c["value"])

    def total(name):
        return sum(counts.get(name, [])) / n

    def mean(name):
        v = counts.get(name, [])
        return sum(v) / len(v) if v else 0.0

    m = {"session.start_s": statistics.median(result["session_start_s"])}
    by_stage = {}
    for s in spans:
        stage = s["name"].split(":")[0]
        if stage in STAGES:
            by_stage.setdefault((s["iter"], stage), []).append(s)
    for stage, key in STAGES.items():
        m[f"pipeline.stage_s.{key}"] = sum(
            (max(x["end_ns"] for x in ss) - min(x["start_ns"] for x in ss))
            / 1e9 for (i, st), ss in by_stage.items() if st == stage) / n
    m["pipeline.op_s"] = sum(_span_s(x) for ss in by_stage.values()
                             for x in ss) / n
    m["pipeline.barrier_idle_s"] = sum(
        (max(x["end_ns"] for x in ss) - x["end_ns"]) / 1e9
        for ss in by_stage.values() for x in ss) / n
    m["dataflow.steps"] = total("dataflow.steps")
    m["dataflow.step_s"] = total("dataflow.step_s")
    for name, prefixes in SPAN_METRICS.items():
        m[name] = sum(_span_s(s) for s in spans if any(
            s["name"] == p or (p.endswith(":") and s["name"].startswith(p))
            for p in prefixes)) / n
    jobs = _jobs(result)
    stages = [st for j, _ in jobs for st in j["stages"]]
    write_jobs = [j for j, _ in jobs
                  if any(st["output_bytes"] > 0 for st in j["stages"])]
    m["io.write_s"] = sum(j["end_ms"] - j["start_ms"]
                          for j in write_jobs) / 1e3 / n
    m["io.bytes_written"] = sum(st["output_bytes"] for st in stages) / n
    m["io.files_written"] = extra["files"]
    m["warehouse.rows_loaded"] = sum(st["output_records"]
                                     for st in stages) / n
    m["dedup.neardup_removed"] = (total("survivors.dedup.exact")
                                  - total("survivors.dedup.neardup"))
    m["text.keep_ratio"] = (total("survivors.text.dsir")
                            / total("survivors.input")
                            if total("survivors.input") else 0.0)
    m["streaming.scan_bytes_per_batch"] = mean("streaming.scan_bytes")
    m["streaming.guard_bytes_per_batch"] = mean("streaming.guard_bytes")
    m["streaming.probe_skip_ratio"] = mean("streaming.probe_skipped")
    m["streaming.state_bytes"] = extra["state_bytes"]
    steps = [t for it in result["iterations"] if it["ok"]
             for t in [it["steps_s"]] if len(t) >= 5]
    late = [sum(t[-len(t) // 5:]) / (len(t) // 5) for t in steps]
    early = [sum(t[:len(t) // 5]) / (len(t) // 5) for t in steps]
    m["steps.late_over_early"] = (statistics.median(late)
                                  / statistics.median(early)
                                  if steps else 0.0)
    lists = total("similarity.list_sizes_total")
    m["similarity.scan_fraction"] = (mean("similarity.probed_lists")
                                     * mean("similarity.mean_list_size")
                                     / lists if lists else 0.0)
    windows = [(s["start_ns"] / 1e6, s["end_ns"] / 1e6) for s in spans
               if s["name"] == "iteration"]
    sql = [r for r in result["profile"].get("sql", [])
           if any(a <= r["end_ms"] <= b for a, b in windows)]
    m["catalyst.actions"] = len(sql) / n
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(r.get(phase, 0) for r in sql) / n
    # jobs started while a call into the program builds a lazy result
    build = [j for j, s in jobs if not s["write"] and s["layer"] != "bench"]
    m["build.jobs"] = len(build) / n
    m["build.s"] = sum(j["end_ms"] - j["start_ms"] for j in build) / 1e3 / n
    m["exec.jobs"] = len(jobs) / n
    m["exec.stages"] = len(stages) / n
    m["exec.tasks"] = sum(st["tasks"] for st in stages) / n
    task_s = sum(st["run_ms"] for st in stages) / 1e3
    m["exec.task_s"] = task_s / n
    m["exec.cpu_s"] = sum(st["cpu_ns"] for st in stages) / 1e9 / n
    m["exec.gc_s"] = sum(st["gc_ms"] for st in stages) / 1e3 / n
    wall = sum(it["iter_s"] for it in traced)
    m["exec.busy_share"] = task_s / (wall * result["host"]["cores"]) \
        if wall else 0.0
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = sum(st[k] for st in stages) / n
    skews = [max(st["task_ms"]) / max(1, statistics.median(st["task_ms"]))
             for st in stages if len(st["task_ms"]) >= 2]
    m["exec.stage_skew"] = statistics.median(skews) if skews else 0.0
    assert list(m) == list(PER_LAYER), set(m) ^ set(PER_LAYER)
    return m


def summary(result):
    """Self time per layer and per span name (a span's duration minus the
    part of it its child spans cover), averaged per traced iteration, and
    Spark jobs per program module (by call site, else by the layer of the
    span that started them)."""
    spans = _spans(result)
    n = max(1, len(_traced(result)))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    layer_self, name_self = {}, {}
    for s in spans:
        iv = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"],
                                                        s["end_ns"]))
              for c in kids.get(s["id"], [])]
        self_s = (s["end_ns"] - s["start_ns"] - _union(
            [x for x in iv if x[1] > x[0]])) / 1e9 / n
        layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + self_s
        key = s["name"].split(":")[0] if ":" in s["name"] else s["name"]
        name_self[key] = name_self.get(key, 0.0) + self_s
    modules = {}
    for j, s in _jobs(result):
        mod = module_of(j["site"]) or s["layer"]
        e = modules.setdefault(mod, {"jobs": 0, "job_s": 0.0})
        e["jobs"] += 1 / n
        e["job_s"] += (j["end_ms"] - j["start_ms"]) / 1e3 / n
    return {"layer_self_s": layer_self, "span_self_s": name_self,
            "jobs_by_module": modules}
