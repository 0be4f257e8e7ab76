"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. The first run builds the
engine and the query harness with sbt; later runs rebuild only when the
sources changed. Scratch files go under `.perfbench/`. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
from a run with the Spark listeners and spans on.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("runner_objstore", "llm_pipeline")


def cpu_ticks():
    """(steal, total) ticks of the machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    common.check_checkout()
    common.ensure_built()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(common.WORK, "runs", run_id)
    shutil.rmtree(os.path.join(common.WORK, "runs"), ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.monotonic()
    ticks0 = cpu_ticks()
    if args.workload == "runner_objstore":
        import runner_workload
        result = runner_workload.run(args.seed, args.seconds, args.trace,
                                     run_id, run_dir)
    else:
        import query_workload
        result = query_workload.run(args.seed, args.seconds, args.trace,
                                    run_id, run_dir)
    if args.trace and result["metrics"]:
        # share of the machine's CPU time the hypervisor gave to other
        # guests during the run: the run's times rise with it
        (s0, n0), (s1, n1) = ticks0, cpu_ticks()
        result["metrics"]["host.steal_share"] = common.metric(
            (s1 - s0) / max(1, n1 - n0), "ratio")
    print(f"perfbench: {run_id} took {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    # a run that measured anything reports exactly the manifest's metrics
    # in its units; only a run where every operation failed has none
    want = common.manifest_units(args.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if (result["metrics"] or not result["failed"]) and got != want:
        common.fail(f"metrics {sorted(got.items())} do not match "
                    f"BENCHMARK.json's {sorted(want.items())}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
