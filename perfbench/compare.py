#!/usr/bin/env python3
"""Compare two sets of benchmark result records, workload by workload.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json ...

Each file is a detail record run.py kept under <build dir>/perfbench/results.
Prints, per workload and metric, the median of each side, the change as a
share of the base median, and the base's own quartile spread; then, for
each side that holds traced and untraced runs of a workload, the tracing
overhead (traced minus untraced pass time). Refuses (exit code 2) when any
two records were taken on different host shapes: CPU count, memory, heap,
Spark or JDK version.
"""
import argparse
import json
import statistics
import sys

SHAPE = ("nproc", "jvm_processors", "mem_total_kb", "heap_max_mb", "spark",
         "jdk", "os_arch")


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def shape(rec):
    return tuple(rec["host"].get(k) for k in SHAPE)


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    shapes = {shape(r) for r in base + new}
    if len(shapes) > 1:
        print("refusing to compare results from different host shapes:",
              file=sys.stderr)
        for s in sorted(shapes, key=str):
            print("  " + ", ".join(f"{k}={v}" for k, v in zip(SHAPE, s)),
                  file=sys.stderr)
        sys.exit(2)

    def table(recs):
        out = {}
        for r in recs:
            key = (r["workload"], r["trace"])
            for name, m in r["result"]["metrics"].items():
                out.setdefault(key, {}).setdefault(name, []).append(m["value"])
            for name, m in r["figures"].items():
                out.setdefault(key, {}).setdefault(name, []).append(m["value"])
        return out

    tb, tn = table(base), table(new)
    print(f"{'workload':18} {'metric':34} {'base':>12} {'new':>12} "
          f"{'change':>8} {'base IQR':>9}")
    for key in sorted(set(tb) & set(tn)):
        for name in sorted(set(tb[key]) & set(tn[key])):
            b = [v for v in tb[key][name] if v is not None]
            n = [v for v in tn[key][name] if v is not None]
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb if mb else float("nan")
            print(f"{key[0]:18} {name:34} {mb:12.4f} {mn:12.4f} "
                  f"{change:+8.1%} {spread(b):9.1%}")
    for side, t in (("base", tb), ("new", tn)):
        for wl in sorted({k[0] for k in t}):
            traced = t.get((wl, 1), {}).get("trace.pass_s")
            untraced = t.get((wl, 0), {}).get("pass_s")
            if traced and untraced:
                over = statistics.median(traced) - statistics.median(untraced)
                print(f"{side}: {wl} tracing overhead {over:+.3f} s "
                      f"({over / statistics.median(untraced):+.1%} of pass_s)")


if __name__ == "__main__":
    main()
