#!/usr/bin/env python3
"""Summarise a perfbench pair file: medians, spread and pairs won per metric.

Usage (from the repo root, stdlib only):

    python3 tools/pairs_summary.py bench_runs/<name>_pairs.jsonl [A B]

A and B name the two sides to compare (default: parent change); any side
the file holds works, e.g. `parent parent2` for the A/A control.

The file is a header line (what, nproc, command), then one JSON line per
run: side, workload, seed, warmup, exit and result (perfbench/run.py's last
stdout line). Warm-up runs are skipped, and so is any run that exited
non-zero, was not correct or failed an op; each is counted in the report.
For every workload and end-to-end metric it prints both sides' medians, the
change B against A in percent, A's quartile spread ((Q3 - Q1) / median,
inclusive quartiles) and how many pairs B won, pairing runs by seed. It
gives no verdict: whether a change is a gain takes both the spread and the
pairs won into account, and the reader weighs them.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def directions(path=os.path.join(ROOT, "BENCHMARK.json")):
    """End-to-end metric -> "lower" or "higher", in BENCHMARK.json's order."""
    with open(path) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def load(path):
    """(header, runs); a run is kept as its raw dict."""
    with open(path) as f:
        lines = [json.loads(l) for l in f if l.strip()]
    if not lines or "side" in lines[0]:
        raise ValueError(f"{path}: the first line must be the header")
    return lines[0], lines[1:]


def ok(run):
    res = run.get("result") or {}
    return (run.get("exit") == 0 and res.get("correct") is True
            and res.get("failed", 0) == 0)


def spread(values):
    """Inclusive-quartile spread as a fraction of the median."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4, method="inclusive")
    return (q[2] - q[0]) / statistics.median(values)


def fmt(x):
    """Four significant digits, e.g. 24.00, 0.4250, 1.799, 6134."""
    if x == 0:
        return "0"
    digits = len(str(int(abs(x)))) if abs(x) >= 1 else 0
    return f"{x:.{max(0, 4 - digits)}f}"


def summarise(runs, a, b, better):
    """One dict per (workload, metric) of `better` that both sides measured."""
    out = []
    for w in sorted({r["workload"] for r in runs}):
        timed = [r for r in runs if r["workload"] == w and not r.get("warmup")]
        kept = {s: {r["seed"]: r["result"]["metrics"]
                    for r in timed if r["side"] == s and ok(r)} for s in (a, b)}
        dropped = {s: sum(1 for r in timed if r["side"] == s and not ok(r))
                   for s in (a, b)}
        if not kept[a] or not kept[b]:
            continue
        for m in better:
            va = [v[m]["value"] for v in kept[a].values() if m in v]
            vb = [v[m]["value"] for v in kept[b].values() if m in v]
            if not va or not vb:
                continue
            seeds = sorted(s for s in kept[a] if s in kept[b]
                           and m in kept[a][s] and m in kept[b][s])
            lower = better[m] == "lower"
            won = sum(1 for s in seeds
                      if (kept[b][s][m]["value"] < kept[a][s][m]["value"])
                      == lower and kept[b][s][m]["value"]
                      != kept[a][s][m]["value"])
            ma, mb = statistics.median(va), statistics.median(vb)
            delta = (mb - ma) / ma if ma else 0.0
            out.append({"workload": w, "metric": m, "median_a": ma,
                        "median_b": mb, "delta": delta, "spread_a": spread(va),
                        "won": won, "pairs": len(seeds), "n_a": len(va),
                        "n_b": len(vb), "dropped_a": dropped[a],
                        "dropped_b": dropped[b]})
    return out


def main(argv):
    if len(argv) not in (1, 3):
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = (argv[1], argv[2]) if len(argv) == 3 else ("parent", "change")
    header, runs = load(argv[0])
    print(f"# {argv[0]}: {b} against {a}, nproc {header.get('nproc')}")
    rows = summarise(runs, a, b, directions())
    if not rows:
        print(f"no workload has kept runs of both {a} and {b}")
        return 1
    for r in rows:
        print(f"{r['workload']} {r['metric']}: {fmt(r['median_a'])} -> "
              f"{fmt(r['median_b'])} ({r['delta'] * 100:+.1f} %, spread "
              f"{r['spread_a'] * 100:.1f} %), {b} won {r['won']}/{r['pairs']}"
              f" pairs [runs {r['n_a']}/{r['n_b']}, dropped "
              f"{r['dropped_a']}/{r['dropped_b']}]")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
