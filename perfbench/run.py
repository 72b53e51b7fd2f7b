#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds graft and the
benchmark from source with sbt (offline) into `.bench_build/`; later calls
reuse the build while the sources are unchanged. The benchmark program
prints every metric it measured; the last line of standard output is one
JSON object with `correct`, `attempted`, `failed` and the metrics that
`BENCHMARK.json` lists (`end_to_end` untraced, `per_layer` traced). The
full report of each run is kept under `.bench_build/results/` for
`perfbench/compare.py`.

Extra options for the self-test: `--size tiny`, `--plant-wrong 1`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
# workloads the program runs that BENCHMARK.json does not list (see README)
EXTRA_WORKLOADS = ("ref_read",)
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/*.properties", "perfbench/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(OUT, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=850)
        fh.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (see {log})")
    lines = [l.strip() for l in p.stdout.splitlines()
             if os.pathsep in l and "perfbench" in l and "classes" in l]
    if not lines:
        fail(f"build printed no classpath (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    # a TERM unwinds through subprocess.run, which kills and reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-wrong", choices=("0", "1"), default="0")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("no BENCHMARK.json at the checkout root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]] + list(EXTRA_WORKLOADS):
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    report = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--report", report,
            "--size", args.size, "--plant-wrong", args.plant_wrong]
    log = os.path.join(OUT, f"run-{args.workload}.log")
    try:
        with open(log, "w") as fh:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=fh,
                               text=True, timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s (see {log})", 3)
    sys.stdout.write(p.stdout)
    if args.trace == "1" and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.move(os.path.join(work, "spans.jsonl"), report[:-5] + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(report):
        fail(f"benchmark program failed with code {p.returncode} (see {log})", 3)
    with open(report) as fh:
        rep = json.load(fh)
    metrics = {}
    for m in wanted:
        got = rep["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"{args.workload} did not measure {m['name']}", 3)
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}", 3)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": rep["correct"], "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
