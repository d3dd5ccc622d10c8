#!/usr/bin/env python3
"""The repository's benchmark: seeded workloads against the program's
public entry points, with output checks, in one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--record <file.jsonl>]

Run it from the repository root. It builds the program and the harness
from source with sbt (once per source state, into .bench_build/), writes
the seeded inputs, runs the workload in one JVM through
`Graft.session(local[nproc])`, checks the outputs, prints a report and,
as its last line, one JSON object: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
`--record` appends the full run record to a JSONL file, the input of
perfbench/compare.py.
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

import checks
import datagen

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
JVM_TIMEOUT_S = 160

# Input sizes. star_queries reads sf0.1; transit_feed keeps the reference
# network (126 directions) with 5% of its trips and 10% of its shape
# points, so that a run fits the run budget. See BENCHMARK.json for why
# each workload exists.
STAR_SF = 0.1
TRANSIT_TRIPS_SCALE = 0.05
TRANSIT_SHAPE_SCALE = 0.1
TRANSIT_REQUESTS = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the JVM classpath."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no {p} in {ROOT}: run from the repository root")
    stamp = os.path.join(BUILD, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        b = checks.read_json(stamp)
        # the compiled classes live under target/, outside .bench_build
        if b["fingerprint"] == fp and all(
                os.path.exists(p) for p in b["classpath"].split(os.pathsep)):
            return b["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g"))
    t0 = time.monotonic()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "harness" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    print(f"built in {time.monotonic() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def prepare(workload, seed, run):
    """Write the seeded inputs; returns (harness args, input summary)."""
    inputs = os.path.join(run, "input")
    if workload == "transit_feed":
        size = datagen.transit(inputs, seed, TRANSIT_TRIPS_SCALE,
                               TRANSIT_SHAPE_SCALE, TRANSIT_REQUESTS)
        return [f"feed={inputs}/feed",
                f"requests={inputs}/requests.txt"], size
    size = datagen.star(inputs, seed, STAR_SF)
    return [f"data={inputs}",
            f"queries={os.path.join(HERE, 'workloads', workload + '.txt')}"], size


def canary_s():
    """Seconds for a fixed CPU loop: reads high when the host is slow."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(classpath, args, run, budget_s):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens",
                                                     f"{p}=ALL-UNNAMED")]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    steal0, total0 = cpu_ticks()
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    steal1, total1 = cpu_ticks()
    steal = 100 * (steal1 - steal0) / max(1, total1 - total0)
    result = os.path.join(run, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: harness JVM failed ({code})", file=sys.stderr)
        sys.exit(1)
    return checks.read_json(result), cpus, steal


def output_checks(workload, res, run, inputs):
    """{(pass, op name): reason} for every operation whose output is wrong."""
    bad = {}
    if workload != "transit_feed":
        names = [o["name"] for o in res["ops"] if o["pass"] == 0
                 and "error_class" not in o]
        sql = checks.read_json(os.path.join(run, "oracle_sql.json"))
        for name, why in checks.oracle(inputs, os.path.join(run, "results"),
                                       names, sql).items():
            if why:
                bad[(0, name)] = why
        return bad
    step = {"rerun_equal_hashes": "rerun_unchanged",
            "rerun_writes_nothing": "rerun_unchanged",
            "feedlint_clean": "publish"}
    for c in res["checks"]:
        if not c["ok"]:
            p, _, what = c["name"].partition(".")
            key = (int(p[4:]), step[what]) if what else (1, step[p])
            bad[key] = f"{c['name']} failed {c['detail']}".strip()
    feed = checks.load_feed(os.path.join(run, "feed-1"))
    journeys = [o for o in res["ops"] if o["pass"] == 1
                and o["kind"] == "journey" and "error_class" not in o]
    with open(os.path.join(inputs, "requests.txt")) as f:
        reqs = [l.strip().split(",") for l in f if l.strip()]
    for i, (o, t, d) in enumerate(reqs):
        name = f"{o}@{t}->{d}"
        if not any(j["name"] == name for j in journeys):
            continue
        why = checks.journey(os.path.join(run, f"labels-{i}.csv"),
                             os.path.join(run, f"legs-{i}.csv"), feed, o,
                             checks.seconds(t), d)
        if why:
            bad[(1, name)] = why
    return bad


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = checks.read_json(spec_path)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    classpath = build()
    t_start = time.monotonic()  # the build may take long; the run may not

    run = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    hargs, size = prepare(a.workload, a.seed, run)
    canary = canary_s()
    res, cpus, steal = run_jvm(classpath, [
        f"workload={a.workload}", f"out={run}", f"seed={a.seed}",
        f"seconds={a.seconds}", f"trace={a.trace}"] + hargs, run,
        JVM_TIMEOUT_S - (time.monotonic() - t_start))
    bad = output_checks(a.workload, res, run, os.path.join(run, "input"))

    ops = res["ops"]
    failed = {(o["pass"], o["name"]): f"{o['error_class']}: {o['error']}"
              for o in ops if "error_class" in o}
    failed.update({k: v for k, v in bad.items() if k not in failed})
    timed_kind = "journey" if a.workload == "transit_feed" else "query"
    lat = [o["lat_s"] for o in ops if o["pass"] > 0 and o["kind"] == timed_kind]
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(res["passes"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (quantile(lat, 0.9) if len(lat) >= 100 else None, "s"),
        "publish_s": (statistics.median(res["publish_s"])
                      if res.get("publish_s") else None, "s"),
        "fail_ratio": (len(failed) / len(ops), "1"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }

    print(f"== {a.workload} seed={a.seed} trace={a.trace} local[{cpus}] "
          f"1 client, closed loop; {len(res['passes'])} timed pass(es), "
          f"{len(lat)} timed operations; inputs {json.dumps(size)}; "
          f"host canary {canary:.3f} s, steal {steal:.1f}% of CPU time")
    for name, (v, unit) in e2e.items():
        shown = "n/a" if v is None else f"{v:.6g}"
        extra = f"  (n={len(lat)})" if name.startswith("op_") else ""
        print(f"{name:12s} {shown:>12s} {unit}{extra}")
    for (p, name), why in sorted(failed.items()):
        print(f"FAILED {a.workload} pass={p} {name}: {why}")

    # the untraced run of the same workload and seed, for tracing overhead
    last = os.path.join(BUILD, "last_untraced", f"{a.workload}-{a.seed}.json")
    if a.trace:
        layer = res["per_layer"]
        print("-- per-layer (first timed pass)")
        for k in sorted(layer):
            print(f"{k:34s} {layer[k]:.6g}")
        print("-- self time by span (ms, whole run)")
        for k, v in sorted(res["self_ms"].items()):
            print(f"{k:34s} {v:.1f}")
        if os.path.exists(last):
            base = checks.read_json(last)["wall_s"]
            print(f"tracing overhead: wall_s {e2e['wall_s'][0]:.4f} traced - "
                  f"{base:.4f} untraced = {e2e['wall_s'][0] - base:+.4f} s")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({"wall_s": e2e["wall_s"][0]}, f)
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({
                "workload": a.workload, "seed": a.seed, "trace": a.trace,
                "host_canary_s": canary, "host_steal_pct": steal,
                "end_to_end": {k: v for k, (v, _) in e2e.items()},
                "per_layer": res["per_layer"],
                "failed": [f"{n}: {w}" for (_, n), w in failed.items()]})
                + "\n")
    # keep the latest record, drop the bulky inputs and outputs
    keep = os.path.join(BUILD, "last", a.workload)
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ("result.json", "spans.jsonl", "jobs.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(run, f)):
            shutil.move(os.path.join(run, f), keep)
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
