#!/usr/bin/env python3
"""Compare two traced-run profiles layer by layer.

    python3 perfbench/layer_diff.py BASE.json NEW.json

The profiles are the files `run.py --trace 1` writes under
`.bench_build/profiles/`. The script prints, for every per-layer metric,
every layer's self time, every span's self time and the Spark jobs each
program module started, the base value, the new value and their ratio,
largest relative change first, so a change can name the layer that moved.
"""
import json
import sys


def rows(profile):
    out = {f"metric {k}": v["value"] for k, v in profile["per_layer"].items()}
    for table in ("layer_self_s", "span_self_s"):
        out.update({f"{table} {k}": v for k, v in profile[table].items()})
    for mod, v in profile["jobs_by_module"].items():
        out[f"jobs_by_module {mod} jobs"] = v["jobs"]
        out[f"jobs_by_module {mod} job_s"] = v["job_s"]
    return out


def main(base_path, new_path):
    with open(base_path) as f:
        base = rows(json.load(f))
    with open(new_path) as f:
        new = rows(json.load(f))
    table = []
    for k in sorted(set(base) | set(new)):
        b, n = base.get(k, 0.0), new.get(k, 0.0)
        if b == 0 and n == 0:
            continue
        change = (n - b) / abs(b) if b else float("inf")
        table.append((abs(change), k, b, n, change))
    table.sort(reverse=True)
    width = max((len(r[1]) for r in table), default=10)
    print(f"{'name':<{width}}  {'base':>14}  {'new':>14}  change")
    for _, k, b, n, change in table:
        ch = "new" if change == float("inf") else f"{change:+.1%}"
        print(f"{k:<{width}}  {b:>14.6g}  {n:>14.6g}  {ch}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
