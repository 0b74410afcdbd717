#!/usr/bin/env python3
"""Summarizes benchmark records written by perfbench/run.py.

    python3 perfbench/compare.py RECORD.json ...            # one set
    python3 perfbench/compare.py A*.json --against B*.json  # two sets

For each (workload, trace) group it prints every metric's median, quartiles
and quartile spread (q3 - q1) / median, next to the metric's bound in
BENCHMARK.json. With ``--against`` it also prints the change of each median
from the first set to the second as a share of the first, and whether it
stays within the bound. Seeds run both untraced and traced give the tracing
overhead (traced warm_s minus untraced warm_s). Records from different boxes
(core count, memory, CPU model) are refused: their numbers do not compare.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    recs = []
    for p in paths:
        if p.endswith(".json") and not p.endswith(".spans.jsonl"):
            with open(p) as f:
                recs.append(json.load(f))
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def bounds():
    try:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        return {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    except OSError:
        return {}


def groups(recs):
    out = {}
    for r in recs:
        key = (r["workload"], r["trace"], r["cores"], r["scan_factor"])
        out.setdefault(key, []).append(r)
    return out


def values(rs):
    trace = rs[0]["trace"]
    keys = rs[0]["layers"] if trace else rs[0]["metrics"]
    return {k: [r["layers" if trace else "metrics"][k] for r in rs] for k in keys}


def summarize(recs, bound):
    lines = []
    for (wl, trace, cores, factor), rs in sorted(groups(recs).items()):
        seeds = sorted(r["seed"] for r in rs)
        failed = sum(len(r["failures"]) for r in rs)
        lines.append(f"== {wl} trace={trace} cores={cores}"
                     + (f" factor={factor:g}" if wl == "scan_scale" else "")
                     + f": {len(rs)} runs, seeds {seeds}, failures {failed}")
        for k, xs in values(rs).items():
            if not isinstance(xs[0], (int, float)):
                continue
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else 0.0
            b = bound.get(k) if not trace else None
            note = f"  bound {b:.2f}  spread/bound {spread / b:.2f}" if b else ""
            lines.append(f"  {k:28s} median {q2:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}"
                         f"  spread {spread:6.3f}{note}")
    return lines


def overhead(recs):
    lines = []
    by = {}
    for r in recs:
        by.setdefault((r["workload"], r["cores"], r["seed"]), {})[r["trace"]] = r
    per_wl = {}
    for (wl, _, _), pair in by.items():
        if 0 in pair and 1 in pair:
            u, t = pair[0]["metrics"]["warm_s"], pair[1]["metrics"]["warm_s"]
            per_wl.setdefault(wl, []).append((t - u, u))
    for wl, ds in sorted(per_wl.items()):
        d = statistics.median(x for x, _ in ds)
        base = statistics.median(u for _, u in ds)
        lines.append(f"tracing overhead {wl}: traced - untraced warm_s = {d:+.3f} s "
                     f"on a median untraced warm_s of {base:.3f} s "
                     f"({d / base:+.1%}), {len(ds)} seed pairs")
    return lines


def per_item(recs):
    """Each item's warm median (over all runs of a group), per group; for
    traced records also each run's per-query accounting."""
    lines = []
    for (wl, trace, cores, factor), rs in sorted(groups(recs).items()):
        warm = {}
        for r in rs:
            for e in r["execs"]:
                if e["ok"] and e["pass"] > 0:
                    warm.setdefault(e["item"], []).append(e["sec"])
        lines.append(f"-- {wl} trace={trace} cores={cores} factor={factor:g}: warm median per item")
        lines += [f"  {k:36s} {statistics.median(v):8.3f} s  ({len(v)} executions)"
                  for k, v in sorted(warm.items())]
        for r in rs if trace else []:
            lines.append(f"-- {wl} seed {r['seed']}: accounting of each item's median warm execution"
                         " (s; bound = largest of planning, scheduling, executor)")
            lines.append(f"  {'item':36s} {'wall':>7s} {'plan':>7s} {'jobs':>7s} {'gap':>7s}"
                         f" {'exec':>7s} {'sched':>7s}  bound       accounting")
            for item, a in sorted(r["accounting"].items()):
                lines.append(f"  {item:36s} {a['wall_s']:7.3f} {a['planning_s']:7.3f}"
                             f" {a['job_s']:7.3f} {a['gap_s']:7.3f} {a['exec_s']:7.3f}"
                             f" {a['sched_s']:7.3f}  {a['bound']:11s}"
                             f" {'holds' if a['all_ok'] else 'FAILS'}")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("records", nargs="+")
    ap.add_argument("--against", nargs="+", default=[])
    ap.add_argument("--per-item", action="store_true",
                    help="also print each item's warm median per group and, for "
                         "traced records, the per-query accounting")
    args = ap.parse_args()
    a, b = load(args.records), load(args.against)
    boxes = {json.dumps(r["box"], sort_keys=True) for r in a + b}
    if len(boxes) > 1:
        sys.exit("refusing to compare runs taken on different boxes:\n  "
                 + "\n  ".join(sorted(boxes)))
    bound = bounds()
    print("\n".join(summarize(a, bound) + overhead(a)))
    if args.per_item:
        print("\n".join(per_item(a)))
    if b:
        print("\n".join(["", "-- second set"] + summarize(b, bound)))
        ga, gb = groups(a), groups(b)
        print("\n-- change of the median, second set vs first")
        for key in sorted(set(ga) & set(gb)):
            va, vb = values(ga[key]), values(gb[key])
            for k in va:
                if k not in vb or not isinstance(va[k][0], (int, float)):
                    continue
                ma, mb = statistics.median(va[k]), statistics.median(vb[k])
                ch = (mb - ma) / ma if ma else 0.0
                bk = bound.get(k) if not key[1] else None
                verdict = "" if not bk else ("  within bound" if abs(ch) <= bk else "  OUTSIDE bound")
                print(f"  {key[0]:12s} {k:28s} {ma:12.5g} -> {mb:12.5g}  {ch:+7.2%}{verdict}")


if __name__ == "__main__":
    main()
