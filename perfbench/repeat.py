"""Run the benchmark for every workload over one or more seeds.

    python3 perfbench/repeat.py [--workloads recsys,curate] [--seeds 1-10] [--out runs.jsonl]

Runs perfbench/run.py once per workload and seed (with BENCHMARK.json's
run_seconds), passing its metric and check lines through, then prints per
workload and end-to-end metric: unit, sample count, median, quartiles,
the interquartile spread as a share of the median and whether that
spread is below a third of the metric's bound.
Exits non-zero if any run fails or reports an incorrect result.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import stats  # noqa: E402


def parse_seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's JSON line to this file")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    ok = True
    for workload in args.workloads.split(","):
        values, units = {}, {}
        for seed in parse_seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"])]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            print(f"== {workload} seed {seed}: exit {proc.returncode}")
            print("\n".join(lines[:-1]), flush=True)
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                sys.stderr.write(proc.stderr[-2000:])
                ok = False
                continue
            ok = ok and proc.returncode == 0 and res["correct"]
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": workload, "seed": seed, **res}) + "\n")
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]

        print(f"== {workload} over seeds {args.seeds}")
        print(f"{'metric':<28} {'unit':<6} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
        for name, xs in sorted(values.items()):
            s = stats.summarize(xs)
            verdict = ""
            if s["n"] > 1:
                verdict = "ok" if s["spread"] < bounds[name] / 3 else f"> bound/3 ({bounds[name]})"
            print(f"{name:<28} {units[name]:<6} {s['n']:>3} {s['median']:>12.5g} {s['q1']:>12.5g} "
                  f"{s['q3']:>12.5g} {s['spread']:>8.4f} {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
