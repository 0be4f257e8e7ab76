#!/usr/bin/env python3
"""Split the runner CLI's CPU by thread group over a batch of N objects.

    python3 tools/runner_cpu_split.py [N ...] [--seed S] [-j J]

Run from the root of a checkout. For each N (default: 0 1 100) it builds
the engine as the benchmark does (perfbench/common.py), generates N
Laghos-schema objects with perfbench/objstore.py (seeded, 100 000 rows
and 8 row groups each, over a pool of 4 files), serves them over HTTP
and runs `graft.runner.Main -j J` over their `ghttp://` names, with the
benchmark's JVM command line. perfbench/ is only imported.

While the runner runs, every thread's CPU (utime + stime of
/proc/<pid>/task/<tid>/stat) is read every 20 ms, and each thread keeps
its last reading, so a thread that exits still counts with what it had
used when it was last seen. The JVM starts and stops its dynamic
compiler threads during a run, so this matters for C1 and C2. A reading
is also taken at each of these moments:

  - first request: the object server's first request;
  - first chunk: the runner's first result chunk on stdout;
  - last chunk: its last result chunk;
  - exit: the process has ended and is not yet reaped.

It prints the CPU seconds of each thread group at each of them: pool
(the runner's `-j` threads), C1, C2, GC, main (the launcher and main
threads) and other. "exited" is the rest of the process's CPU
(/proc/<pid>/stat): threads that exited before they were first seen,
or that ran after their last reading.
"""
import argparse
import os
import re
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
import common  # noqa: E402
import numpy as np  # noqa: E402
import objstore  # noqa: E402

CLK_TCK = os.sysconf("SC_CLK_TCK")
ROWS, ROW_GROUPS, POOL = 100_000, 8, 4
GROUPS = ("pool", "C1", "C2", "GC", "main", "other", "exited")
MOMENTS = ("first request", "first chunk", "last chunk", "exit")


def group(comm):
    if re.match(r"pool-\d+-thread", comm):
        return "pool"
    if comm.startswith("C1 Compiler"):
        return "C1"
    if comm.startswith("C2 Compiler"):
        return "C2"
    if comm.startswith(("GC ", "G1 ")):
        return "GC"
    if comm in ("java", "main"):
        return "main"
    return "other"


def stat(path):
    """(comm, CPU ticks) of one /proc stat file, or None once it is gone."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    head, _, rest = text.rpartition(")")
    fields = rest.split()
    return head.partition("(")[2], int(fields[11]) + int(fields[12])


class Sampler:
    """Each thread's last CPU reading, and copies of them at moments."""

    def __init__(self, pid):
        self.pid = pid
        self.last = {}       # tid -> (comm, ticks)
        self.total = 0       # the process's ticks at the last reading
        self.at = {}         # moment -> (last, total)
        self.lock = threading.Lock()

    def read(self):
        task = f"/proc/{self.pid}/task"
        try:
            tids = os.listdir(task)
        except OSError:
            tids = []
        with self.lock:
            for tid in tids:
                s = stat(f"{task}/{tid}/stat")
                if s is not None:
                    self.last[tid] = s
            s = stat(f"/proc/{self.pid}/stat")
            if s is not None:
                self.total = s[1]

    def mark(self, moment, once=True):
        self.read()
        with self.lock:
            if not once or moment not in self.at:
                self.at[moment] = (dict(self.last), self.total)

    def split(self, moment):
        """CPU seconds by group at `moment`, or None if it never came."""
        if moment not in self.at:
            return None
        last, total = self.at[moment]
        out = dict.fromkeys(GROUPS, 0.0)
        for comm, ticks in last.values():
            out[group(comm)] += ticks / CLK_TCK
        out["exited"] = max(0, total - sum(t for _, t in last.values())) \
            / CLK_TCK
        return out


def exited(pid):
    """Whether `pid` has ended; it is left unreaped so /proc still
    holds its totals."""
    return os.waitid(os.P_PID, pid,
                     os.WEXITED | os.WNOHANG | os.WNOWAIT) is not None


def run(n, seed, threads):
    d = os.path.join(common.WORK, "cpu_split")
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    store = objstore.ObjectStore()
    if n:
        pools = [objstore.make_pool_file(os.path.join(d, f"pool-{i}.parquet"),
                                         rng, ROWS, ROW_GROUPS)
                 for i in range(min(n, POOL))]
        for k in range(n):
            store.add(f"split-{k:03d}.parquet", pools[k % len(pools)],
                      k * ROWS)
    port = store.start()
    cmd = common.java_cmd("graft.runner.Main", "2g") + ["-j", str(threads)]
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL,
                            env=common.java_env(), text=True)
    sampler = Sampler(proc.pid)
    store.on_first_request = lambda: sampler.mark("first request")

    def read_out():
        for line in proc.stdout:
            if line.startswith("Chunk - ["):
                sampler.mark("first chunk")
                sampler.mark("last chunk", once=False)

    reader = threading.Thread(target=read_out)
    reader.start()
    try:
        proc.stdin.write("".join(f"ghttp://127.0.0.1:{port}/{name}\n"
                                 for name in store.objects))
        proc.stdin.close()
        deadline = time.monotonic() + 600
        while not exited(proc.pid):
            if time.monotonic() > deadline:
                proc.kill()
                break
            sampler.read()
            time.sleep(0.02)
        sampler.mark("exit")
    finally:
        proc.wait()
        reader.join()
        store.stop()
    return sampler


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("objects", nargs="*", type=int, default=[0, 1, 100])
    ap.add_argument("--seed", type=int, default=3201)
    ap.add_argument("-j", type=int, default=min(4, common.CPUS))
    a = ap.parse_args()
    common.check_checkout()
    common.ensure_built()
    for n in a.objects:
        sampler = run(n, a.seed, a.j)
        print(f"\n{n} objects, -j {a.j}: CPU seconds by thread group")
        print(f"{'':>8}" + "".join(f"{m:>15}" for m in MOMENTS))
        splits = [sampler.split(m) for m in MOMENTS]
        for g in GROUPS + ("total",):
            cells = []
            for s in splits:
                if s is None:
                    cells.append(f"{'-':>15}")
                else:
                    v = sum(s.values()) if g == "total" else s[g]
                    cells.append(f"{v:>15.2f}")
            print(f"{g:>8}" + "".join(cells))


if __name__ == "__main__":
    main()
