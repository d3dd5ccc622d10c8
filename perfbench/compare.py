#!/usr/bin/env python3
"""Steadiness self-check: compare two sets of benchmark runs.

    python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds the records `run.py --record` appends. For every workload
the report prints one row per end-to-end metric of BENCHMARK.json: each
set's median and quartile spread (as a share of its median) and the
change of B's median against A's, flagged when a spread or the change
exceeds the metric's bound. Counts are reported apart from timings: every
exact count of a traced run must repeat exactly for the same workload and
seed, across both sets; any difference is flagged. Exits 1 on any flag.
"""
import json
import statistics
import sys
from collections import defaultdict

# counts that the same seed must reproduce exactly
EXACT = ["spark.jobs", "spark.stages", "spark.tasks", "catalyst.exchanges",
         "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
         "operators.loop_rounds", "codegen.compiles", "gtfs.bytes_written"]


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spread(values):
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    sets = [load(p) for p in sys.argv[1:]]
    flags = 0
    for w in [w["name"] for w in spec["workloads"]]:
        runs = [[r for r in s if r["workload"] == w and not r["trace"]]
                for s in sets]
        if all(runs):
            print(f"== {w}: timings ({len(runs[0])} vs {len(runs[1])} runs)")
        for m in spec["end_to_end"] if all(runs) else []:
            name, bound = m["name"], m["bound"]
            va, vb = ([r["end_to_end"][name] for r in rs] for rs in runs)
            ma, mb = statistics.median(va), statistics.median(vb)
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sa, sb = spread(va), spread(vb)
            bad = change > bound or (name != "setup_s" and max(sa, sb) > bound)
            flags += bad
            print(f"  {name:12s} A {ma:10.4f} (spread {sa:5.3f})  "
                  f"B {mb:10.4f} (spread {sb:5.3f})  worse by {change:+.3f}"
                  f"  bound {bound}  {'FLAG' if bad else 'ok'}")
        traced = defaultdict(list)
        for s in sets:
            for r in s:
                if r["workload"] == w and r["trace"]:
                    traced[r["seed"]].append(r["per_layer"])
        if traced:
            print(f"== {w}: exact counts ({len(traced)} seed(s))")
        for seed, layers in sorted(traced.items()):
            for k in EXACT:
                vals = {l.get(k) for l in layers}
                if len(vals) > 1:
                    flags += 1
                    print(f"  FLAG seed {seed} {k}: {sorted(vals)}")
            if len(layers) > 1 and all(
                    len({l.get(k) for l in layers}) == 1 for k in EXACT):
                print(f"  seed {seed}: {len(EXACT)} counts repeat exactly "
                      f"over {len(layers)} runs")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
