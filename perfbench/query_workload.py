"""llm_pipeline: one client running a fixed query mix,
in an order drawn from the seed, as a closed loop in one Spark session
(perfbench.QueryHarness), checked against DuckDB outside the timed
window."""
import hashlib
import importlib.util
import json
import os
import random
import shutil
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

import common
import datagen

SF = 0.02
# Untimed passes before timing, the first of them cold. The JIT settles
# slowly: on the 4-core host process CPU per pass fell from 12.9 s after
# the cold pass to 5.8 s by the fourth pass and 4.2 s by the fourteenth.
# Eight untimed passes instead of four made CPU per query no steadier
# between runs and cost 15 s per run.
WARM_PASSES = 4

# The mix: MemoLog builds, the codegen hash kernels and the driver-side
# twins (PageRank, k-means).
QUERIES = ["q_dedup_minhash", "q_dedup_simhash", "q_graph_pagerank",
           "q_cluster_kmeans"]
# Seconds one timed pass of the mix takes on a 4-core host. A run makes
# about seconds / PASS_S timed passes, rounded to a multiple of the mix's
# length so that every query runs equally often in every position of the
# pass; the work a run measures depends on --seconds only.
PASS_S = 3.0


def family(name):
    return name[len("q_"):].split("_")[0]


FAMILIES = sorted({family(n) for n in QUERIES})

# Per-layer metrics of layers the query workload never calls: it reads
# no ghttp:// object and does not launch the runner.
IDLE = ("io.read_ops_per_op", "io.wire_mb_per_op", "io.head_ops_per_op",
        "io.footer_gets_per_op", "io.consumed_mb_per_op",
        "io.wire_per_needed", "io.get_ms_p50", "io.read_span_s_p50",
        "runner.result_tail_s_p50")


def tables_dir():
    """The generated tables, made once per checkout."""
    d = os.path.join(common.WORK, f"tables-sf{SF}-v{datagen.GEN_VERSION}")
    if not os.path.exists(os.path.join(d, ".done")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, SF)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def check_rules():
    """The engine's own oracle comparison rules (tools/check.py)."""
    path = os.path.join(common.ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_answer(con, data, sql):
    """DuckDB's rows for `sql`, cached by the SQL text and table version."""
    key = hashlib.sha256(f"{data}\n{sql}".encode()).hexdigest()[:32]
    d = os.path.join(common.WORK, "answers")
    path = os.path.join(d, f"{key}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    tbl = con.execute(sql).arrow()
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return tbl


def compare(rules, result_dir, duck):
    """None when the engine's rows equal DuckDB's under check.py's rules
    (columns by name, row order kept, exact cells), else the mismatch."""
    files = sorted(f for f in os.listdir(result_dir) if f.endswith(".parquet"))
    if not files:
        return "no result file"
    tbl = pq.read_table(os.path.join(result_dir, files[0]))
    cols = sorted(tbl.column_names)
    if sorted(duck.column_names) != cols:
        return f"columns {cols} != {sorted(duck.column_names)}"
    for c in cols:
        a = rules.arrow_typeclass(tbl.schema.field(c).type)
        b = rules.arrow_typeclass(duck.schema.field(c).type)
        if not rules.typeclass_compat(a, b):
            return f"type of {c}: {a} != {b}"
    got = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
    want = [tuple(r[c] for c in cols) for r in duck.to_pylist()]
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for c, a, b in zip(cols, g, w):
            if not rules.cmp_cell(a, b):
                return f"row {i} {c}: {a!r} != {b!r}"
    return None


def check_outputs(data, out, names):
    """Compare every query's untimed-pass rows with DuckDB's answer;
    return the list of mismatches."""
    rules = check_rules()
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t)}.parquet'")
    bad = []
    for n in names:
        res = os.path.join(out, "results", n)
        if n not in oracle:
            bad.append(f"{n}: no oracle SQL")
        elif not os.path.isdir(res):
            bad.append(f"{n}: no rows written (the query failed)")
        else:
            msg = compare(rules, res, duck_answer(con, data, oracle[n]))
            if msg:
                bad.append(f"{n}: {msg}")
    return bad


def run(seed, seconds, trace, run_id, run_dir):
    data = tables_dir()
    names = list(QUERIES)
    random.Random(seed).shuffle(names)
    out = os.path.join(run_dir, "out")
    cmd = common.java_cmd("perfbench.QueryHarness", "3g") + [
        "--data", data, "--queries", ",".join(names),
        "--warm", str(WARM_PASSES),
        "--passes", str(len(names) *
                        max(1, round(seconds / PASS_S / len(names)))),
        "--trace", str(trace), "--out", out,
        "--cpus", str(common.CPUS), "--run-id", run_id]
    result, t, cold_cpu = None, {}, None
    t_launch = time.monotonic()
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL,
                                env=common.java_env(), text=True)
        try:
            for line in proc.stdout:
                if line.startswith("PB {"):
                    result = json.loads(line[3:])
                elif line.startswith("PB "):
                    event, _, arg = line[3:].strip().partition(" ")
                    t[event] = time.monotonic() - t_launch
                    if event == "cold_done":
                        cold_cpu = float(arg)
            rc = proc.wait(timeout=150)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or result is None or "cold_done" not in t:
        common.fail(f"query harness exited {rc}; see "
                    f"{os.path.join(run_dir, 'harness.log')}")
    bad = check_outputs(data, out, names)
    for b in bad:
        print(f"perfbench: wrong output: {b}", file=sys.stderr)
    samples = result["samples"]
    ok = [s for s in samples if not s["failed"]]
    if not ok:
        metrics = {}
    elif trace:
        metrics = trace_metrics(result, ok, len(names), t["cold_done"])
    else:
        metrics = e2e_metrics(result, len(names), cold_cpu)
    if trace:
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in samples:
                f.write(json.dumps(dict(s, run_id=run_id)) + "\n")
    # untimed queries count too: a query that fails in a warm pass is a
    # failed operation even when its timed runs succeed
    return {"correct": not bad,
            "attempted": len(samples) + result["untimed"],
            "failed": len(samples) - len(ok) + result["untimed_failed"],
            "metrics": metrics}


def _wall(s):
    return s["build_s"] + s["action_s"]


def e2e_metrics(result, per_pass, cold_cpu):
    """Process CPU seconds: set-up is launch -> end of the first (cold)
    pass; an operation is one timed query."""
    m = common.metric
    return {
        "setup_s": m(cold_cpu, "s"),
        # process CPU of a timed pass / its queries, median over passes
        "cpu_s_per_op": m(common.median(result["pass_cpu_s"]) / per_pass,
                          "s"),
    }


def trace_metrics(result, ok, per_pass, setup_wall):
    """The per-layer metrics, and the wall-clock figures of the closed
    loop: passes reduced by their median, so one pass caught by a JIT or
    host hiccup does not move a run."""
    passes = result["passes"]
    m = common.metric
    per_query, by_pass = {}, {}
    for s in ok:
        per_query.setdefault(s["name"], []).append(_wall(s))
        by_pass.setdefault(s["pass"], []).append(_wall(s))

    def per_op(key, scale=1.0, unit="count", rows=ok):
        return m(sum(s[key] for s in rows) * scale / len(rows), unit)

    metrics = {
        "op.setup_wall_s": m(setup_wall, "s"),
        "op.ops_per_s": m(common.median(
            [len(w) / sum(w) for w in by_pass.values()]), "1/s"),
        # geometric mean over queries of each one's median across passes
        "op.latency_p50_s": m(common.geomean(
            [common.median(v) for v in per_query.values()]), "s"),
        "jvm.gc_s_per_op": per_op("gc_s", unit="s"),
        "jvm.heap_live_mb": m(result["heap_live_mb"], "MB"),
        "op.latency_p90_s": m(common.quantile(
            [_wall(s) for s in ok], 0.9), "s"),
        "op.in_flight_mean": m(sum(_wall(s) for s in ok) /
                               sum(result["pass_wall_s"]), "count"),
        "ops.build_s_per_op": per_op("build_s", unit="s"),
        "exec.driver_only_s_per_op": per_op("driver_only_s", unit="s"),
        "memo.builds_per_op": m(result["memo_builds"] /
                                (passes * per_pass), "count"),
        "memo.build_s_per_op": m(result["memo_build_s"] /
                                 (passes * per_pass), "s"),
        "plans.exchanges_per_op": per_op("exchanges"),
        "plans.broadcast_joins_per_op": per_op("broadcast_joins"),
        "exec.jobs_per_op": per_op("jobs"),
        "exec.tasks_per_op": per_op("tasks"),
        "exec.task_s_per_op": per_op("task_s", unit="s"),
        "shuffle.write_mb_per_op": per_op("shuffle_write_b", 1e-6, "MB"),
        "shuffle.read_mb_per_op": per_op("shuffle_read_b", 1e-6, "MB"),
        "shuffle.spill_mb_per_op": per_op("spill_b", 1e-6, "MB"),
        "scan.input_rows_per_op": per_op("input_rows"),
    }
    for f in FAMILIES:
        rows = [s for s in ok if family(s["name"]) == f]
        metrics[f"family.{f}.cpu_s_per_op"] = per_op("cpu_s", unit="s",
                                                     rows=rows)
    metrics.update(common.idle_metrics(IDLE))
    return metrics
