#!/usr/bin/env python3
"""Self-test of the graft benchmark.

    python3 perfbench/selftest.py

Runs every workload at tiny size, untraced and traced, and checks that:

- each run is correct (`failed` is 0) and its last line has exactly the
  metrics `BENCHMARK.json` lists, with their units;
- the full report holds every end-to-end metric that applies to the
  workload and every per-layer metric, each with its unit;
- a planted wrong expected answer is counted: `failed` > 0 and
  `fail_ratio` > 0.

Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics each workload must report (p90s only appear where at
# least ten samples lie beyond them, so they are checked separately)
APPLIES = {
    "common": ["setup_s", "ops_per_s", "fail_ratio", "heap_used_mb", "op_p50_ms", "read_p50_ms"],
    "branch_dml": ["write_p50_ms", "merge_p50_ms", "ann_append_p50_ms", "ann_probe_p50_ms", "space_amp"],
    "ref_read": ["ann_probe_p50_ms"],
    "meta_scale": ["write_p50_ms", "merge_p50_ms"],
    "rest_commit": ["write_p50_ms", "space_amp"],
}
WORKLOADS = ["branch_dml", "ref_read", "rest_commit", "meta_scale"]


def run(workload, trace, plant="0"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--size", "tiny",
           "--plant-wrong", plant]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"selftest: {workload} trace={trace} exited {p.returncode}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    results = os.path.join(ROOT, ".bench_build", "results")
    newest = max((os.path.join(results, f) for f in os.listdir(results)
                  if f.startswith(f"{workload}-s7-t{trace}-") and f.endswith(".json")),
                 key=os.path.getmtime)
    with open(newest) as fh:
        return last, json.load(fh)


def check(cond, what):
    if not cond:
        sys.exit(f"selftest: FAILED {what}")
    print(f"selftest: ok {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = {w["name"] for w in spec["workloads"]}
    for w in WORKLOADS:
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            last, rep = run(w, trace)
            check(last["failed"] == 0 and last["correct"], f"{w} trace={trace} answers correct")
            if w in listed:
                check(set(last["metrics"]) == {m["name"] for m in wanted} and all(
                    last["metrics"][m["name"]]["unit"] == m["unit"] for m in wanted),
                    f"{w} trace={trace} last line has the BENCHMARK.json metrics")
            names = APPLIES["common"] + APPLIES[w] if trace == "0" else [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
            missing = [n for n in names if n not in rep["metrics"]
                       or (n in units and rep["metrics"][n]["unit"] != units[n])]
            check(not missing, f"{w} trace={trace} reports every metric with its unit {missing or ''}")
            for cls_p90 in [k for k in rep["metrics"] if k.endswith(".p90_ms")]:
                cls = cls_p90[:-len(".p90_ms")]
                check(rep["info"].get(f"{cls}.samples", 0) >= 100,
                      f"{w} {cls_p90} only with at least ten samples beyond it")
        last, rep = run(w, "0", plant="1")
        check(last["failed"] > 0 and rep["metrics"]["fail_ratio"]["value"] > 0,
              f"{w} a planted wrong answer raises fail_ratio")
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()
