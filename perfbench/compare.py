#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are each a run record (.json) or a directory of them;
run.py writes one record per run under .perfbench/runs/. Move that
directory aside between the two commits, e.g.

    mv .perfbench/runs runs-parent      # after running the parent
    python3 perfbench/compare.py runs-parent .perfbench/runs

For each workload it prints:
- every end-to-end metric: median and quartiles of each side (untraced
  runs), the change of the median, and the tracing overhead (traced
  median against untraced median, where both exist);
- every per-layer metric of the traced runs: the two medians and the
  change;
- self time and call count per span name (a layer's time minus what the
  calls and Spark jobs under it cover), largest change first, which is
  where a saving shows.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pct(a, b):
    return f"{(b - a) / a * 100:+7.1f}%" if a else "    n/a"


def fmt(x):
    return f"{x:10.4g}"


def table(title, rows):
    print(f"\n  {title}")
    for r in rows:
        print("    " + r)


def compare(base, change):
    workloads = sorted({r["workload"] for r in base + change})
    for w in workloads:
        print(f"\n=== {w}")
        side = {}
        for name, runs in (("base", base), ("change", change)):
            rs = [r for r in runs if r["workload"] == w]
            side[name] = {
                "plain": [r for r in rs if not r["trace"]],
                "traced": [r for r in rs if r["trace"]]}
        b, c = side["base"], side["change"]
        keys = sorted({k for r in b["plain"] + c["plain"] + b["traced"] + c["traced"]
                       for k in r["end_to_end"]})
        rows = [f"{'metric':<16}{'base q1':>10}{'median':>10}{'q3':>10}"
                f"{'change q1':>11}{'median':>10}{'q3':>10}{'delta':>9}"
                f"{'trace ovh':>10}  runs"]
        for k in keys:
            bq = quartiles([r["end_to_end"][k] for r in b["plain"]])
            cq = quartiles([r["end_to_end"][k] for r in c["plain"]])
            tr = [r["end_to_end"][k] for r in c["traced"] or b["traced"]]
            pl = [r["end_to_end"][k] for r in c["plain"] or b["plain"]]
            ovh = (pct(statistics.median(pl), statistics.median(tr))
                   if tr and pl else "    n/a")
            rows.append(f"{k:<16}{fmt(bq[0])}{fmt(bq[1])}{fmt(bq[2])} "
                        f"{fmt(cq[0])}{fmt(cq[1])}{fmt(cq[2])}{pct(bq[1], cq[1])}"
                        f"{ovh:>10}  {len(b['plain'])}/{len(c['plain'])}")
        table("end to end (untraced runs)", rows)

        def med_layer(runs, k):
            xs = [r["layers"][k] for r in runs if r.get("layers") and k in r["layers"]]
            return statistics.median(xs) if xs else float("nan")

        lkeys = sorted({k for r in b["traced"] + c["traced"] if r.get("layers")
                        for k in r["layers"]})
        rows = [f"{'metric':<44}{'base':>10}{'change':>10}{'delta':>9}"]
        for k in lkeys:
            x, y = med_layer(b["traced"], k), med_layer(c["traced"], k)
            if x == 0 and y == 0:
                continue
            rows.append(f"{k:<44}{fmt(x)}{fmt(y)}{pct(x, y)}")
        table("per layer (traced runs, medians)", rows)

        def med_self(runs, n, f):
            xs = [r["self"][n][f] for r in runs if r.get("self") and n in r["self"]]
            return statistics.median(xs) if xs else 0.0

        names = {n for r in b["traced"] + c["traced"] if r.get("self")
                 for n in r["self"]}
        deltas = sorted(names, key=lambda n: -abs(
            med_self(c["traced"], n, "self_ms") - med_self(b["traced"], n, "self_ms")))
        rows = [f"{'span (per unit)':<28}{'self ms':>10}{'->':>4}{'self ms':>10}"
                f"{'delta ms':>10}{'calls':>8}{'->':>4}{'calls':>8}"]
        for n in deltas:
            x, y = med_self(b["traced"], n, "self_ms"), med_self(c["traced"], n, "self_ms")
            cx, cy = med_self(b["traced"], n, "calls"), med_self(c["traced"], n, "calls")
            rows.append(f"{n:<28}{x:>10.1f}{'':>4}{y:>10.1f}{y - x:>+10.1f}"
                        f"{cx:>8.1f}{'':>4}{cy:>8.1f}")
        table("self time by span, largest change first", rows)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    compare(load(sys.argv[1]), load(sys.argv[2]))


if __name__ == "__main__":
    main()
