#!/usr/bin/env python3
"""Summarises one set of benchmark results, or compares two.

    python3 perfbench/diff.py A            # per workload and metric: median, quartiles, spread
    python3 perfbench/diff.py A B          # B against A, per workload and metric
    python3 perfbench/diff.py A --json F   # also write the summary of A to F

A and B are each a directory of run records (.perfbench/results/*.json, as
run.py writes them) or a summary file this tool wrote. The spread is the
distance between the first and third quartile as a share of the median
(statistics.quantiles, n=4). A comparison marks an end-to-end metric whose
median worsened by more than its BENCHMARK.json bound with "WORSE";
per-layer metrics have no bound and are listed with their change only.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """{workload: {metric: [values]}} from a record directory or a summary."""
    if os.path.isfile(path):
        with open(path) as f:
            summary = json.load(f)
        return {w: {m: s["values"] for m, s in ms.items()} for w, ms in summary.items()}
    out = {}
    for p in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(p) as f:
            rec = json.load(f)
        if "harness" not in rec:
            continue
        w = out.setdefault(rec["harness"]["workload"], {})
        for m, v in rec["metrics"].items():
            w.setdefault(m, []).append(v)
    return out


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def metric_info():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    info = {m["name"]: m for m in b["end_to_end"]}
    info.update({m["name"]: m for m in b["per_layer"]})
    return info


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--json", help="write the summary of A here")
    args = ap.parse_args()
    info = metric_info()
    a = {w: {m: stats(v) for m, v in ms.items()} for w, ms in load(args.a).items()}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(a, f, indent=1, sort_keys=True)
            f.write("\n")
    if args.b is None:
        for w in sorted(a):
            print(f"== {w}")
            for m in sorted(a[w]):
                s = a[w][m]
                bound = info.get(m, {}).get("bound")
                print(f"  {m:28s} n={len(s['values']):2d} median {fmt(s['median']):>10s}"
                      f"  q1 {fmt(s['q1']):>10s}  q3 {fmt(s['q3']):>10s}"
                      f"  spread {fmt(s['spread']):>7s}"
                      + (f"  (bound {bound})" if bound is not None else ""))
        return
    b = {w: {m: stats(v) for m, v in ms.items()} for w, ms in load(args.b).items()}
    worse = 0
    for w in sorted(set(a) | set(b)):
        print(f"== {w}")
        for m in sorted(set(a.get(w, {})) | set(b.get(w, {}))):
            sa, sb = a.get(w, {}).get(m), b.get(w, {}).get(m)
            if sa is None or sb is None:
                print(f"  {m:28s} only in {'B' if sa is None else 'A'}")
                continue
            ma, mb = sa["median"], sb["median"]
            change = (mb - ma) / ma if ma else None
            meta = info.get(m, {})
            tag = ""
            if meta.get("bound") is not None and change is not None:
                loss = change if meta["better"] == "lower" else -change
                if loss > meta["bound"]:
                    tag, worse = "  WORSE", worse + 1
            print(f"  {m:28s} A {fmt(ma):>10s}  B {fmt(mb):>10s}  change "
                  f"{'-' if change is None else f'{change:+.1%}':>8s}"
                  f"  spread A {fmt(sa['spread'])} B {fmt(sb['spread'])}{tag}")
    raise SystemExit(1 if worse else 0)


if __name__ == "__main__":
    main()
