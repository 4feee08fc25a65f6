"""Run sets of the benchmark and compare them.

    # ten runs of a workload, one seed each, appended to a run-set file
    python3 perfbench/compare.py run --workload sql_routing --seeds 1-10 --out a.jsonl

    # per workload and metric: each set's median and quartiles, each set's
    # spread (inter-quartile distance over median), and whether the second
    # set's median stays within the metric's bound of the first's
    python3 perfbench/compare.py diff a.jsonl b.jsonl

    # one set alone: spreads against the bounds
    python3 perfbench/compare.py diff a.jsonl

A run-set file holds one JSON object per line: workload, seed, trace and
the result line run.py printed. `diff` exits 1 when the sets disagree or a
spread exceeds its bound.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import stats  # noqa: E402

HERE = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def bench_spec():
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def cmd_run(args):
    seconds = args.seconds or bench_spec()["run_seconds"]
    with open(args.out, "a") as out:
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                                "--seed", str(s), "--seconds", str(seconds),
                                "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{args.workload} seed {s}: run failed ({p.returncode})", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            out.write(json.dumps({"workload": args.workload, "seed": s, "trace": args.trace,
                                  "result": result}) + "\n")
            out.flush()
            vals = ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
            print(f"{args.workload} seed {s}: correct={result['correct']} {vals}", flush=True)
    return 0


def load(path):
    """{workload: {metric: [values]}} from the untraced runs of a set."""
    sets = {}
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        if r["trace"]:
            continue
        for m, v in r["result"]["metrics"].items():
            sets.setdefault(r["workload"], {}).setdefault(m, []).append(v["value"])
    return sets


def cmd_diff(args):
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    a = load(args.base)
    b = load(args.change) if args.change else a
    ok = True
    for wl in sorted(a):
        if wl not in b:
            continue
        runs = [len(next(iter(s[wl].values()))) for s in ((a, b) if args.change else (a,))]
        print(f"== {wl} ({' vs '.join(map(str, runs))} runs)")
        for row in stats.compare(a[wl], b[wl], bounds, better):
            m = row["metric"]
            spread_ok = row["base_spread"] <= row["bound"] and row["change_spread"] <= row["bound"]
            agree = row["agree"] if args.change else True
            ok = ok and spread_ok and agree
            q1, med, q3 = row["base"]
            line = (f"  {m:18s} median {med:12.5g} [q1 {q1:.5g}, q3 {q3:.5g}] "
                    f"spread {row['base_spread']:.3f}")
            if args.change:
                c1, cm, c3 = row["change"]
                line += (f" | median {cm:12.5g} [q1 {c1:.5g}, q3 {c3:.5g}] "
                         f"spread {row['change_spread']:.3f} | worse by {row['worse_by']:+.3f}")
            line += f" | bound {row['bound']} {'ok' if spread_ok and agree else 'OUT'}"
            print(line)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description="Run and compare sets of benchmark runs.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--seconds", type=float)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("change", nargs="?")
    args = ap.parse_args()
    return cmd_run(args) if args.cmd == "run" else cmd_diff(args)


if __name__ == "__main__":
    sys.exit(main())
