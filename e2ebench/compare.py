#!/usr/bin/env python3
"""Summarise or compare e2ebench result sets.

A result set is a JSONL file that `run.py --record FILE` appends to, one
line per run: {"workload", "seed", "trace", "elapsed_s", "result"}.

    python3 e2ebench/compare.py A.jsonl            # one set: medians, quartiles, spreads
    python3 e2ebench/compare.py A.jsonl B.jsonl    # A = parent, B = change

For each workload and end-to-end metric it prints the median and quartiles
(statistics.quantiles, n=4) of the untraced runs, the spread (q3 - q1) /
median against the metric's bound from BENCHMARK.json, and with two sets
the change's delta, how many seed-matched pairs each side won, and whether
the change is worse than the parent by more than the bound, and the mean and
longest whole-run time (a run that built includes its build). Traced runs
give per-layer medians (and their deltas), and the tracing overhead:
trace.step_p50_s of the traced runs against step_p50_s of the untraced.
Runs of one seed must leave the same output digest, within a set and
across the two sets; any seed whose digests differ is flagged.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quart(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def values(runs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs if metric in r["result"]["metrics"]]


def fmt(x):
    return f"{x:.4g}"


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    sets = [load(p) for p in argv[1:]]
    workloads = sorted({w for s in sets for (w, _) in s})
    for w in workloads:
        a = sets[0].get((w, 0), [])
        b = sets[1].get((w, 0), []) if len(sets) == 2 else []
        fails = sum(r["result"]["failed"] for s in sets for r in s.get((w, 0), []) + s.get((w, 1), []))
        print(f"== {w}: {len(a)} untraced runs" + (f" vs {len(b)}" if b else "") +
              f", ops_failed total {fails}")
        for label, runs in (("A", a), ("B", b)):
            el = [r["elapsed_s"] for r in runs if "elapsed_s" in r]
            if el:
                print(f"  {label} whole-run time: mean {statistics.mean(el):.1f} s, max {max(el):.1f} s")
        digests = {}
        for s in sets:
            for r in s.get((w, 0), []) + s.get((w, 1), []):
                digests.setdefault(r["seed"], set()).add(r.get("digest", ""))
        differ = sorted(seed for seed, d in digests.items() if len(d) > 1)
        print(f"  output digests: {len(digests)} seeds, " +
              (f"DIFFER between runs for seeds {differ}" if differ else "identical across runs of each seed"))
        for name, m in e2e.items():
            va = values(a, name)
            if not va:
                continue
            q1, med, q3 = quart(va)
            spread = (q3 - q1) / med if med else 0.0
            line = (f"  {name:<13} A med {fmt(med)} [{fmt(q1)}, {fmt(q3)}] spread {spread:.3f}"
                    f" (bound {m['bound']}{'' if spread <= m['bound'] else ' EXCEEDED'})")
            vb = values(b, name)
            if vb:
                bq1, bmed, bq3 = quart(vb)
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (bmed - med) / med
                by_seed_a = {r["seed"]: r["result"]["metrics"][name]["value"] for r in a}
                pairs = [(by_seed_a[r["seed"]], r["result"]["metrics"][name]["value"])
                         for r in b if r["seed"] in by_seed_a]
                b_wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
                a_wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
                line += (f" | B med {fmt(bmed)} [{fmt(bq1)}, {fmt(bq3)}] delta {100 * (bmed - med) / med:+.1f}%"
                         f" pairs B/A {b_wins}/{a_wins} of {len(pairs)}"
                         f"{' REGRESSION' if worse > m['bound'] else ''}")
            print(line)
        ta = sets[0].get((w, 1), [])
        tb = sets[1].get((w, 1), []) if len(sets) == 2 else []
        if ta:
            print(f"  per-layer medians over {len(ta)} traced runs" + (f" vs {len(tb)}" if tb else ""))
            names = list(layer) + sorted({k for r in ta + tb for k in r["result"]["metrics"]} - set(layer))
            for name in names:
                va, vb = values(ta, name), values(tb, name)
                if not va or (max(map(abs, va)) == 0 and not any(vb)):
                    continue
                med = statistics.median(va)
                unit = ta[0]["result"]["metrics"][name]["unit"]
                line = f"    {name:<26} {fmt(med):>10} {unit}"
                if vb:
                    bmed = statistics.median(vb)
                    line += f"  ->  {fmt(bmed):>10}  ({bmed - med:+.4g})"
                print(line)
            tp, up = values(ta, "trace.step_p50_s"), values(a, "step_p50_s")
            if tp and up:
                print(f"  tracing overhead: traced step p50 {fmt(statistics.median(tp))} s vs untraced "
                      f"{fmt(statistics.median(up))} s ({100 * (statistics.median(tp) / statistics.median(up) - 1):+.1f}%)")


if __name__ == "__main__":
    main(sys.argv)
