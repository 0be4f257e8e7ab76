"""runner_objstore: `graft.runner.Main` as a child process, reading
`ghttp://` objects from the benchmark's own object server.

A run is one runner launch over a batch of OBJECTS objects, about 30 s
on a 4-core host. --seconds does not change the batch, so every run
does the same work."""
import json
import os
import subprocess
import sys
import threading
import time

import duckdb
import numpy as np

import common
import objstore

POOL = 4            # generated files behind the object names
ROWS = 100_000      # rows per object (~6.3 MB, 8 row groups)
ROW_GROUPS = 8
OBJECTS = 100       # per batch, so the p90 has ten samples beyond it
THREADS = min(4, common.CPUS)   # -j: the reference's default, <= nproc

# The reference's flagship query (the runner's Laghos-schema branch).
FLAGSHIP_SQL = """
SELECT min(vertex_id) AS VID, min(x) AS X, min(y) AS Y, min(z) AS Z,
       avg(e) AS E
FROM read_parquet('{path}')
WHERE x > 1.5 AND x < 1.6 AND y > 1.5 AND y < 1.6 AND z > 1.5 AND z < 1.6
GROUP BY vertex_id ORDER BY E NULLS LAST"""

CLK_TCK = os.sysconf("SC_CLK_TCK")

# Per-layer metrics of layers the runner never calls: it builds its own
# query, not one of graft.ops's, so MemoLog and the query families idle.
IDLE = ("ops.build_s_per_op", "memo.builds_per_op", "memo.build_s_per_op",
        "family.cluster.cpu_s_per_op", "family.dedup.cpu_s_per_op",
        "family.graph.cpu_s_per_op")


def proc_cpu_s(pid):
    """User + system CPU seconds of a live process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def make_objects(seed):
    """Generate the pool from the seed; name OBJECTS objects over it."""
    d = os.path.join(common.WORK, "objstore")
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    pools = [objstore.make_pool_file(os.path.join(d, f"pool-{i}.parquet"),
                                     rng, ROWS, ROW_GROUPS)
             for i in range(POOL)]
    store = objstore.ObjectStore()
    ranges = {}
    for k in range(OBJECTS):
        name = f"laghos-{seed}-{k:03d}.parquet"
        store.add(name, pools[k % POOL], k * ROWS)
        ranges[name] = (k * ROWS, (k + 1) * ROWS - 1)
    return pools, store, ranges


def expected_rows(pools, store):
    """DuckDB's flagship answer per object: the pool file's rows with the
    object's vertex_id offset applied."""
    con = duckdb.connect()
    base = {id(p): con.execute(FLAGSHIP_SQL.format(path=p.path)).fetchall()
            for p in pools}
    return {name: [(v + delta, x, y, z, e) for v, x, y, z, e in base[id(p)]]
            for name, (p, delta) in store.objects.items()}


def rows_match(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[:4] != w[:4]:
            return False
        if abs(g[4] - w[4]) > 1e-9 * max(1.0, abs(w[4])):
            return False
    return all(a[4] <= b[4] for a, b in zip(got, got[1:]))


def run_batch(store, port, names, probe):
    """Launch the runner over `names`; return what it and the server did.
    With `probe` (a file) the runner's JVM carries perfbench.SparkProbe,
    which writes its Spark counts there when the runner ends."""
    extra = (["-Dspark.extraListeners=perfbench.SparkProbe",
              "-Dspark.sql.queryExecutionListeners=perfbench.SparkProbe",
              f"-Dperfbench.probe.out={probe}"] if probe else [])
    cmd = common.java_cmd("graft.runner.Main", "2g", extra) + \
        ["-j", str(THREADS)]
    t_launch = time.monotonic()
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            env=common.java_env(), text=True, bufsize=1)
    cpu = {}
    store.on_first_request = lambda: cpu.setdefault("first",
                                                    proc_cpu_s(proc.pid))
    out, err = [], []

    def read_out():
        for line in proc.stdout:
            t = time.monotonic()
            if line.startswith("Chunk - ["):
                cpu["last"] = proc_cpu_s(proc.pid)
            out.append((t, line))

    def read_err():
        err.extend(proc.stderr)

    readers = [threading.Thread(target=read_out),
               threading.Thread(target=read_err)]
    for r in readers:
        r.start()
    try:
        proc.stdin.write("\n".join(f"ghttp://127.0.0.1:{port}/{n}"
                                   for n in names) + "\n")
        proc.stdin.close()
        rc = proc.wait(timeout=150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        for r in readers:
            r.join()
    store.wait_idle()
    stats = {}
    for line in err:
        key, sep, val = line.partition(":")
        if sep and key.startswith("Total"):
            stats[key.strip()] = val.strip()
    spark = None
    if probe and os.path.exists(probe):
        with open(probe) as f:
            spark = json.load(f)
    return {"rc": rc, "t_launch": t_launch, "out": out, "err": err,
            "stats": stats, "log": list(store.log), "cpu": cpu,
            "spark": spark, "epoch": time.time() - time.monotonic()}


def run(seed, seconds, trace, run_id, run_dir):
    pools, store, ranges = make_objects(seed)
    want = expected_rows(pools, store)
    port = store.start()
    probe = os.path.join(run_dir, "probe.json") if trace else None
    try:
        b = run_batch(store, port, list(store.objects), probe)
    finally:
        store.stop()
    return summarize(b, store, ranges, want, trace, run_id, run_dir)


def check(b, store, ranges, want):
    """Compare the batch's output with DuckDB's answers and the server's
    log. Returns ({object: time of its result chunk} for the objects
    answered exactly once, [what was wrong])."""
    bad = []
    try:
        chunks = objstore.attribute_chunks(b["out"], ranges)
    except ValueError as e:
        chunks = []
        bad.append(f"stdout: {e}")
    seen = {}
    for name, t_end, rows in chunks:
        seen.setdefault(name, []).append((t_end, rows))
    results = {n: v[0][0] for n, v in seen.items() if len(v) == 1}
    # a crash or an object answered twice is wrong output; an object the
    # runner reported as failed ("error processing") is a failure
    if b["rc"] != 0:
        bad.append(f"runner exited {b['rc']}")
    bad += [f"{n}: answered {len(v)} times" for n, v in seen.items()
            if len(v) > 1]
    bad += [f"{n}: rows differ from DuckDB's" for n in results
            if not rows_match(seen[n][0][1], want[n])]
    gets = [e for e in b["log"] if e[1] == "GET" and e[7] in (200, 206)]
    st = b["stats"]
    hits = sum(len(want[n]) for n in results)
    if int(st.get("Total hits", -1)) != hits:
        bad.append(f"Total hits {st.get('Total hits')} != {hits}")
    if int(st.get("Total read ops", -1)) != len(gets):
        bad.append(f"Total read ops {st.get('Total read ops')} != "
                   f"{len(gets)} GETs served")
    sent = sum(e[6] for e in gets)
    if int(st.get("Total read bytes", 1 << 62)) > sent:
        bad.append(f"Total read bytes {st.get('Total read bytes')} > "
                   f"{sent} bytes sent")
    read = {e[0] for e in b["log"]}
    bad += [f"{n}: answered without a request" for n in results
            if n not in read]
    return ({n: t for n, t in results.items() if n in read}, bad)


def summarize(b, store, ranges, want, trace, run_id, run_dir):
    n_obj = len(store.objects)
    results, bad = check(b, store, ranges, want)
    for msg in bad:
        print(f"perfbench: wrong output: {msg}", file=sys.stderr)
    out = {"correct": not bad, "attempted": n_obj,
           "failed": n_obj - len(results), "metrics": {}}
    if not results:
        return out
    log = b["log"]
    gets = [e for e in log if e[1] == "GET" and e[7] in (200, 206)]
    # bytes asked for: unlike the bytes sent, exact for a seed even when
    # the runner abandons a readahead response part way
    wire = sum(e[5] - e[4] + 1 for e in gets)
    first = min(e[2] for e in log)
    wall = max(results.values()) - first
    by_obj = {}
    for e in log:
        by_obj.setdefault(e[0], []).append(e)
    lat, tails, spans_io, spans = [], [], [], []
    for n, t_res in results.items():
        reqs = by_obj[n]
        t_first = min(e[2] for e in reqs)
        lat.append(t_res - t_first)
        tails.append(t_res - max(e[3] for e in reqs if e[1] == "GET"))
        spans_io.append(max(e[3] for e in reqs) - t_first)
        spans.append({"run_id": run_id, "span": "object", "name": n,
                      "start": t_first, "end": t_res})
    m = common.metric
    if not trace:
        # process CPU seconds: set-up is launch -> first request
        out["metrics"] = {
            "setup_s": m(b["cpu"]["first"], "s"),
            "cpu_s_per_op": m((b["cpu"]["last"] - b["cpu"]["first"]) /
                              len(results), "s"),
        }
        return out
    sp = b["spark"]
    if sp is None:
        common.fail("the runner wrote no Spark probe counts")
    needed = sum(p.needed_bytes for p, _ in store.objects.values())
    footer = sum(1 for e in gets
                 if e[4] >= store.objects[e[0]][0].footer_start)
    # batch wall with no Spark job running: driver-side work
    lo, hi = ((first + b["epoch"]) * 1e3,
              (max(results.values()) + b["epoch"]) * 1e3)
    covered, reach = 0.0, lo
    for s, e in sorted(sp["job_spans_ms"]):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            covered, reach = covered + e - s, e
    out["metrics"] = {
        "io.read_ops_per_op": m(len(gets) / n_obj, "count"),
        "io.wire_mb_per_op": m(wire / n_obj / 1e6, "MB"),
        "io.head_ops_per_op": m(
            sum(1 for e in log if e[1] == "HEAD") / n_obj, "count"),
        "io.footer_gets_per_op": m(footer / n_obj, "count"),
        "io.consumed_mb_per_op": m(
            int(b["stats"].get("Total read bytes", 0)) / n_obj / 1e6, "MB"),
        "io.wire_per_needed": m(wire / needed, "ratio"),
        "io.get_ms_p50": m(common.quantile(
            [(e[3] - e[2]) * 1e3 for e in gets], 0.5), "ms"),
        "io.read_span_s_p50": m(common.quantile(spans_io, 0.5), "s"),
        "runner.result_tail_s_p50": m(common.quantile(tails, 0.5), "s"),
        "op.setup_wall_s": m(first - b["t_launch"], "s"),
        "op.ops_per_s": m(len(results) / wall, "1/s"),
        "op.latency_p50_s": m(common.quantile(lat, 0.5), "s"),
        "jvm.gc_s_per_op": m(sp["gc_s"] / n_obj, "s"),
        "jvm.heap_live_mb": m(sp["heap_live_mb"], "MB"),
        "op.latency_p90_s": m(common.quantile(lat, 0.9), "s"),
        "op.in_flight_mean": m(sum(lat) / wall, "count"),
        "exec.driver_only_s_per_op": m((hi - lo - covered) / 1e3 / n_obj,
                                       "s"),
        "plans.exchanges_per_op": m(sp["exchanges"] / n_obj, "count"),
        "plans.broadcast_joins_per_op": m(sp["broadcast_joins"] / n_obj,
                                          "count"),
        "exec.jobs_per_op": m(sp["jobs"] / n_obj, "count"),
        "exec.tasks_per_op": m(sp["tasks"] / n_obj, "count"),
        "exec.task_s_per_op": m(sp["task_s"] / n_obj, "s"),
        "shuffle.write_mb_per_op": m(sp["shuffle_write_b"] / n_obj / 1e6,
                                     "MB"),
        "shuffle.read_mb_per_op": m(sp["shuffle_read_b"] / n_obj / 1e6,
                                    "MB"),
        "shuffle.spill_mb_per_op": m(sp["spill_b"] / n_obj / 1e6, "MB"),
        "scan.input_rows_per_op": m(sp["input_rows"] / n_obj, "count"),
    }
    out["metrics"].update(common.idle_metrics(IDLE))
    for e in log:
        spans.append({"run_id": run_id, "span": e[1].lower(),
                      "parent": e[0], "start": e[2], "end": e[3],
                      "range": [e[4], e[5]], "status": e[7]})
    with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return out
