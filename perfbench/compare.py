#!/usr/bin/env python3
"""Compare two sets of benchmark runs of graft.

    python3 perfbench/compare.py --base <report.json|dir>... --new <report.json|dir>...

Each side is a list of full run reports (the JSON files `run.py` keeps
under `.bench_build/results/`) or directories holding them. For every
workload and every end-to-end metric of `BENCHMARK.json` it prints each
side's median and quartiles, the share of alternating pairs the new side
won, and a verdict under the metric's bound:

- `worse`: the new median is worse than the base median by more than the bound;
- `better`: the new side won at least 9 of 10 pairs and the medians differ
  by more than the base's own quartile spread;
- `unresolved`: the base spread is wider than the bound and the new side
  did not win every pair;
- `same`: none of the above.

Traced runs (`--trace 1`) of the same workload and seed are diffed exactly
on every count-valued per-layer metric (the JVM's collector counts
excepted), and every counter that changed is listed, so a counter
regression shows even when host noise hides the wall time. When a side holds traced and untraced runs of a workload, the
difference of their `op_p50_ms` medians is printed as the tracing overhead.
The host markers (1-minute load, calibration task) are summarised beside
the metrics, not judged.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "*.json")))
        else:
            files.append(p)
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "metrics" in r and "info" in r:
            r["_file"] = f
            r["_mtime"] = os.path.getmtime(f)
            runs.append(r)
    return sorted(runs, key=lambda r: r["_mtime"])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def value(run, name):
    m = run["metrics"].get(name)
    return None if m is None else m["value"]


def compare_e2e(spec, base, new):
    rows = []
    for m in spec["end_to_end"]:
        name, bound, higher = m["name"], m["bound"], m["better"] == "higher"
        b = [v for v in (value(r, name) for r in base) if v is not None]
        n = [v for v in (value(r, name) for r in new) if v is not None]
        if not b or not n:
            continue
        bq, nq = quartiles(b), quartiles(n)
        pairs = list(zip(b, n))
        won = sum(1 for x, y in pairs if (y > x if higher else y < x))
        lost = sum(1 for x, y in pairs if (y < x if higher else y > x))
        share = won / len(pairs) if pairs else 0.0
        worse_by = ((bq[1] - nq[1]) if higher else (nq[1] - bq[1])) / bq[1] if bq[1] else 0.0
        spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
        if worse_by > bound:
            verdict = "worse"
        elif share >= 0.9 and abs(nq[1] - bq[1]) > (bq[2] - bq[0]):
            verdict = "better"
        elif spread > bound and lost > 0:
            verdict = "unresolved"
        else:
            verdict = "same"
        rows.append((name, m["unit"], len(b), bq, len(n), nq, share, verdict))
    return rows


def host(runs):
    out = {}
    for k in ("host.load1m_before", "host.calib_ms_before", "host.calib_ms_after"):
        xs = [r["info"][k] for r in runs if k in r["info"]]
        if xs:
            out[k] = statistics.median(xs)
    return out


def counter_diff(spec, base, new):
    # JVM collector counts follow heap pressure and the host, not the program's work
    counts = [m["name"] for m in spec["per_layer"]
              if m["unit"] in ("count", "bytes") and not m["name"].startswith("jvm.")]
    by = lambda runs: {(r["info"]["workload"], r["info"]["seed"]): r for r in runs}
    b, n = by(base), by(new)
    out = []
    for key in sorted(set(b) & set(n)):
        changed = []
        for c in counts:
            x, y = value(b[key], c), value(n[key], c)
            if x != y:
                changed.append((c, x, y))
        out.append((key, changed))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        spec = json.load(fh)
    base, new = load(a.base), load(a.new)
    if not base or not new:
        sys.exit("compare: no run reports on one side")
    workloads = sorted({r["info"]["workload"] for r in base + new})
    for w in workloads:
        bu = [r for r in base if r["info"]["workload"] == w and not r["info"]["trace"]]
        nu = [r for r in new if r["info"]["workload"] == w and not r["info"]["trace"]]
        print(f"== {w}: {len(bu)} base / {len(nu)} new untraced runs")
        print(f"   host base {host(bu)}  new {host(nu)}")
        failed = [(r["_file"], r["failed"]) for r in bu + nu if r["failed"]]
        for f, k in failed:
            print(f"   FAILED ops: {k} in {f}")
        if bu and nu:
            print(f"   {'metric':<16} {'unit':<6} {'base q1/med/q3 (n)':<34} {'new q1/med/q3 (n)':<34} pairs-won verdict")
            for name, unit, nb, bq, nn, nq, share, verdict in compare_e2e(spec, bu, nu):
                fb = f"{bq[0]:.4g}/{bq[1]:.4g}/{bq[2]:.4g} ({nb})"
                fn = f"{nq[0]:.4g}/{nq[1]:.4g}/{nq[2]:.4g} ({nn})"
                print(f"   {name:<16} {unit:<6} {fb:<34} {fn:<34} {share:>8.2f} {verdict}")
        for side, runs in (("base", base), ("new", new)):
            t = [value(r, "op_p50_ms") for r in runs if r["info"]["workload"] == w and r["info"]["trace"]]
            u = [value(r, "op_p50_ms") for r in runs if r["info"]["workload"] == w and not r["info"]["trace"]]
            t, u = [x for x in t if x], [x for x in u if x]
            if t and u:
                over = statistics.median(t) / statistics.median(u) - 1
                print(f"   tracing overhead ({side}): op_p50_ms traced/untraced - 1 = {over:+.1%}")
        bt = [r for r in base if r["info"]["workload"] == w and r["info"]["trace"]]
        nt = [r for r in new if r["info"]["workload"] == w and r["info"]["trace"]]
        for (wl, seed), changed in counter_diff(spec, bt, nt):
            if not changed:
                print(f"   traced seed {seed}: every counter identical")
            for c, x, y in changed:
                print(f"   traced seed {seed}: {c} {x} -> {y}")


if __name__ == "__main__":
    main()
