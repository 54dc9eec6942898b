#!/usr/bin/env python3
"""Traced-run report: each layer's self time and counts per workload,
plus the tracing overhead.

    python3 perfbench/report.py --seed 1 [--seconds 10] [--run] [--smoke]
        [--workload w ...]

For every workload it reads the untraced and the traced run records of
the seed from .bench_build/records/ (with --run it first makes both runs
through run.py). Spans are the benchmark's own, taken around its calls
into the engine; Spark jobs hang under the span whose job group they
carry (a cube op's under its interval, see analyze.cube_jobs). A layer's self time is its spans' duration minus the part of it
their child spans and jobs cover. The overhead lines are each end-to-end
metric of the traced run minus the same metric of the untraced run.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import gen  # noqa: E402


def job_groups(span):
    """the job groups the benchmark set around this span's call"""
    n, r = span["name"], span["req"]
    if n == "exec.serve":
        return {"graft-query-" + r}
    if n == "sql.front":
        return {"bench-front-" + r}
    return {"bench-%s-%s" % (n.replace(".", "-"), r)}


def layer_table(trace):
    spans = trace.get("spans", [])
    jobs = trace.get("jobs", [])
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    rows = {}

    def add(name, self_ms, n_jobs=0, tasks=0, cpu_ms=0.0):
        r = rows.setdefault(name, {"count": 0, "self_ms": 0.0, "jobs": 0,
                                   "tasks": 0, "cpu_ms": 0.0})
        r["count"] += 1
        r["self_ms"] += self_ms
        r["jobs"] += n_jobs
        r["tasks"] += tasks
        r["cpu_ms"] += cpu_ms

    for s in spans:
        js = (analyze.cube_jobs(trace, s["start"], s["end"])
              if s["name"].startswith("cube.") else
              [j for g in job_groups(s) for j in by_group.get(g, [])])
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        inner = analyze.union_ms(kids + [(j["start"], j["end"]) for j in js])
        add(s["name"], max(0.0, s["end"] - s["start"] - inner))
        if js:
            busy = analyze.union_ms([(j["start"], j["end"]) for j in js])
            add("spark.jobs", busy, len(js), analyze.jsum(js, "tasks"),
                analyze.jsum(js, "cpu_ns") / 1e6)
    return rows


def record(rec_dir, workload, seed, trace, smoke):
    p = os.path.join(rec_dir, "%s-seed%d-trace%d%s.json" % (
        workload, seed, trace, "-smoke" if smoke else ""))
    if not os.path.exists(p):
        return None, p
    with open(p) as f:
        return json.load(f), p


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workload", action="append", choices=gen.WORKLOADS)
    ap.add_argument("--run", action="store_true",
                    help="make the untraced and traced runs first")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    rec_dir = os.path.join(root, ".bench_build", "records")
    for w in args.workload or gen.WORKLOADS:
        if args.run:
            for t in (0, 1):
                cmd = [sys.executable, os.path.join(HERE, "run.py"),
                       "--workload", w, "--seed", str(args.seed),
                       "--seconds", repr(args.seconds), "--trace", str(t)]
                subprocess.run(cmd + (["--smoke"] if args.smoke else []),
                               cwd=root, stdout=subprocess.DEVNULL,
                               check=True)
        plain, p0 = record(rec_dir, w, args.seed, 0, args.smoke)
        traced, p1 = record(rec_dir, w, args.seed, 1, args.smoke)
        print("== %s (seed %d)" % (w, args.seed))
        if traced is None:
            print("   no traced record at %s (use --run)" % p1)
            continue
        with open(p1.replace(".json", ".spans.json")) as f:
            rows = layer_table(json.load(f) or {})
        print("   %-22s %7s %12s %10s %7s %8s %10s" % (
            "layer", "count", "self_ms", "ms/call", "jobs", "tasks",
            "cpu_ms"))
        for name in sorted(rows, key=lambda n: -rows[n]["self_ms"]):
            r = rows[name]
            print("   %-22s %7d %12.1f %10.2f %7d %8d %10.1f" % (
                name, r["count"], r["self_ms"], r["self_ms"] / r["count"],
                r["jobs"], r["tasks"], r["cpu_ms"]))
        print("   per-layer metrics (n = samples behind a percentile):")
        for name, m in sorted(traced["per_layer"].items()):
            n = traced["samples"].get(name)
            print("     %-36s %14.4f %-6s%s" % (
                name, m["value"], m["unit"],
                "" if n is None else " n=%d" % n))
        if plain is None:
            print("   no untraced record at %s: overhead unknown" % p0)
            continue
        print("   tracing overhead (traced - untraced):")
        for name, m in sorted(plain["end_to_end"].items()):
            t = traced["end_to_end"][name]["value"]
            base = m["value"]
            print("     %-22s %12.4f %-6s (%+.1f%%)" % (
                name, t - base, m["unit"],
                100.0 * (t - base) / base if base else 0.0))


if __name__ == "__main__":
    main()
