#!/usr/bin/env python3
"""Diff two sets of benchmark records and name what moved, per workload.

    python3 perfbench/compare.py <before> <after>

<before> and <after> are record.json files written by run.py (one per
run, under .bench_build/perfbench/runs/), or directories searched for
them. Records are grouped by workload, and each metric is the median over
that workload's records on one side. For each workload the comparer
prints:

- every end-to-end metric, marked WORSE or BETTER when it moved by more
  than its bound in BENCHMARK.json, else flat;
- every per-layer metric (traced records) that moved by more than FLAT;
- per query, the layer figures that moved, and the phase times that did
  not, e.g. `q_components: jobs 66 -> 41 (-38%), build_s 0.93 -> 0.61
  (-34%); plan_s flat, exec_s flat`.

A figure that is zero on both sides is skipped. Exit status 1 if an
end-to-end metric got worse by more than its bound, else 0.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PHASES = ("wall_s", "build_s", "plan_s", "exec_s")
# Relative change below which a layer figure counts as flat; also the
# bound of an end-to-end metric that BENCHMARK.json does not list.
FLAT = 0.05


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f == "record.json")
    by_workload = {}
    for f in files:
        rec = json.load(open(f))
        by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def medians(dicts):
    keys = set().union(*dicts) if dicts else set()
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in keys}


def change(a, b):
    if a == b:
        return 0.0
    return (b - a) / a if a else float("inf")


def fmt(v):
    return f"{v:.4g}"


def bounds():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    spec = json.load(open(path))
    return {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    limits = bounds()
    worse = False
    for w in sorted(set(before) & set(after)):
        rb, ra = before[w], after[w]
        print(f"{w} ({len(rb)} -> {len(ra)} records)")
        eb = medians([r["end_to_end"] for r in rb])
        ea = medians([r["end_to_end"] for r in ra])
        for k in sorted(eb.keys() & ea.keys()):
            bound, better = limits.get(k, (FLAT, "lower"))
            d = change(eb[k], ea[k])
            signed = d if better == "lower" else -d
            verdict = "WORSE" if signed > bound else "BETTER" if signed < -bound else "flat"
            worse |= verdict == "WORSE"
            print(f"  {k:<24} {fmt(eb[k])} -> {fmt(ea[k])} ({d:+.1%}, bound {bound:.0%}) {verdict}")
        lb = medians([r["per_layer"] for r in rb if r.get("per_layer")])
        la = medians([r["per_layer"] for r in ra if r.get("per_layer")])
        for k in sorted(lb.keys() & la.keys()):
            if (lb[k] or la[k]) and abs(change(lb[k], la[k])) > FLAT:
                print(f"  {k:<24} {fmt(lb[k])} -> {fmt(la[k])} ({change(lb[k], la[k]):+.1%})")
        queries = set().union(*(r["per_query"] for r in rb)) & set().union(*(r["per_query"] for r in ra))
        for q in sorted(queries):
            qb = medians([r["per_query"][q] for r in rb if q in r["per_query"]])
            qa = medians([r["per_query"][q] for r in ra if q in r["per_query"]])
            moved, flat = [], []
            for k in sorted(qb.keys() & qa.keys()):
                if not (qb[k] or qa[k]):
                    continue
                d = change(qb[k], qa[k])
                if abs(d) > FLAT:
                    moved.append(f"{k} {fmt(qb[k])} -> {fmt(qa[k])} ({d:+.0%})")
                elif k in PHASES:
                    flat.append(f"{k} flat")
            if moved:
                print(f"  {q}: " + ", ".join(moved) + ("; " + ", ".join(flat) if flat else ""))
    only = sorted(set(before) ^ set(after))
    if only:
        print("workloads on one side only: " + ", ".join(only))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
