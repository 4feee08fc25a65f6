"""Routing benchmark: one run of one workload.

    python3 perfbench/run.py --workload sql_routing --seed 1 --seconds 12 --trace 0

Builds the program from source when needed (see build.py), runs the
workload in a fresh JVM and a fresh directory, checks every answer against
an exact oracle, and prints each metric by name and unit. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`, and
`metrics` — the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`. Exits non-zero, printing no result, when
the build, the run or the result is missing.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sql_routing", "tiled_od")
RUN_LIMIT_S = 170
# what spark-submit would pass on JDK 17 (same list as build.sbt)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HEAP = "2g"
YOUNG = "1g"
# a failed op misses every limit; JSON has no infinity, so it reads as this
MISSED_MS = 1e9


def spec():
    with open(build.ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def finite(v):
    if math.isnan(v):
        return 0.0
    return MISSED_MS if math.isinf(v) else v


def run_jvm(args, classpath, run_dir, budget_s):
    # a fixed heap and young generation: left to size them, the collector
    # kept the young generation near 50 MB in some runs and 1.7 GB in
    # others, and point requests ran 40% slower in the former
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(run_dir)]
    (run_dir / "tmp").mkdir(parents=True)
    with open(run_dir.parent / f"{run_dir.name}.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = spec()

    try:
        classpath = build.ensure()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    runs = build.build_dir() / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    run_dir = runs / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    run_dir.mkdir()
    try:
        # a first run also builds; the run after the build keeps its own limit
        rc = run_jvm(args, classpath, run_dir, RUN_LIMIT_S)
        result = run_dir / "result.json"
        log = run_dir.parent / f"{run_dir.name}.log"
        if rc != 0 or not result.is_file():
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: {args.workload} run {why}; log in {log}", file=sys.stderr)
            return 1
        log.unlink()
        res = json.loads(result.read_text())
        e2e, extra = metrics.end_to_end(res)
        attempted, failed, causes = metrics.attempts(res)
        if args.trace:
            traces = build.build_dir() / "traces"
            traces.mkdir(exist_ok=True)
            kept = traces / f"{args.workload}-s{args.seed}.spans.jsonl"
            shutil.copyfile(run_dir / "spans.jsonl", kept)
            values = metrics.per_layer(res, kept, e2e)
            wanted = bench["per_layer"]
        else:
            values = e2e
            wanted = bench["end_to_end"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    out = {m["name"]: {"value": finite(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={int(res['cores'])}")
    print(f"#   ops sampled: {e2e['_samples']}; latency_tail_ms is p{e2e['_tail_pct']:g} "
          f"(highest percentile with >= 10 samples beyond it)")
    for name, v in out.items():
        print(f"#   {name:34s} {v['value']:>16.6g} {v['unit']}")
    if not args.trace:
        units = {"batch_s": "s", "routes_per_s": "routes/s", "failed_share": "fraction"}
        for name, v in extra.items():
            print(f"#   {name:34s} {v:>16.6g} {units[name]}   (not gated)")
    print(f"#   attempted {attempted}, failed {failed}")
    for cause, count in causes.items():
        print(f"#   failure x{count}: {cause}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
