"""Run one workload several times, each with its own seed, and print each
metric's median, quartiles and quartile spread (q3 - q1) / median.

    python3 perfbench/repeat.py --workload NAME [--runs 10] [--seed 1]
                                [--seconds S] [--trace 0|1]

Quartiles are Python's statistics.quantiles(values, n=4). --seconds
defaults to BENCHMARK.json's run_seconds. Each run's result line is kept
in .perfbench/repeat-<workload>-t<trace>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    os.makedirs(".perfbench", exist_ok=True)
    log = f".perfbench/repeat-{args.workload}-t{args.trace}.jsonl"
    results = []
    with open(log, "w") as f:
        for i in range(args.runs):
            seed = args.seed + i
            cmd = [sys.executable, "perfbench/run.py",
                   "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(args.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit(f"run with seed {seed} exited {p.returncode}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["seed"] = seed
            f.write(json.dumps(r) + "\n")
            f.flush()
            results.append(r)
            print(f"seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", file=sys.stderr)

    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        print(f"{name:36} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:7.3f} "
              f"{'' if bound is None else bound:>6}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"correct in every run: {all(r['correct'] for r in results)}; "
          f"failed shares: {sorted(shares)}")


if __name__ == "__main__":
    main()
