"""Compare the generated query tables with a fixture directory: the
properties the workloads' work depends on, and the row count of each
query's DuckDB oracle answer, side by side.

    python3 perfbench/compare_tables.py FIXTURE_DIR --sf 0.1 [--oracle F]...

The tables are generated at --sf (the fixture's scale factor) under
`.perfbench/compare-sf<sf>/`. Each --oracle is an `oracle_sql.json` that a
query-workload run writes to `.perfbench/runs/<run id>/out/` (default:
the one under `.perfbench/runs/`, if the latest run was a query
workload); without one only the table properties are printed.
"""
import argparse
import glob
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import datagen  # noqa: E402


def profile(d):
    """{property: value} of the tables in directory `d`."""
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t)}.parquet'")

    def one(sql):
        return con.execute(sql).fetchone()[0]

    p = {f"rows.{t}": one(f"SELECT count(*) FROM {t}")
         for t in datagen.TABLES}
    p["lineitem.lines_per_order"] = one(
        "SELECT count(*) / count(DISTINCT l_orderkey) FROM lineitem")
    p["orders.without_lineitem"] = one(
        "SELECT avg((o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))"
        "::INT) FROM orders")
    p["lineitem.unique_key_share"] = one(
        "SELECT count(DISTINCT (l_orderkey, l_linenumber)) / count(*) "
        "FROM lineitem")
    p["lineitem.ts_type"] = str(
        pq.read_schema(os.path.join(d, "lineitem.parquet"))
        .field("l_shipdate").type)
    p["events.value_median"] = one("SELECT median(value) FROM events")
    p["events.users"] = one("SELECT count(DISTINCT user_id) FROM events")
    p["events.ts_type"] = str(
        pq.read_schema(os.path.join(d, "events.parquet")).field("ts").type)
    p["documents.dup_frac"] = one(
        "SELECT 1 - count(DISTINCT text) / count(*) FROM documents")
    p["documents.near_copy_share"] = one(
        "SELECT avg(suffix(text, ' dup')::INT) FROM documents")
    for q in (0.1, 0.5, 0.9):
        p[f"documents.tokens_p{int(q * 100)}"] = one(
            f"SELECT quantile_disc(len(string_split(text, ' ')), {q}) "
            "FROM documents")
    p["documents.vocabulary"] = one(
        "SELECT count(DISTINCT w) FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)")
    p["documents.en_share"] = one(
        "SELECT avg((lang = 'en')::INT) FROM documents")
    emb = pq.read_table(os.path.join(d, "embeddings.parquet"))
    v = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cos = v @ v.T
    np.fill_diagonal(cos, -1.0)
    p["embeddings.nn_cos_p50"] = float(np.median(cos.max(axis=1)))
    p["embeddings.pairs_cos_gt_0.9"] = int((cos > 0.9).sum() // 2)
    p["embeddings.labels"] = len(set(emb.column("label").to_pylist()))
    return p, con


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("fixture")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--oracle", action="append", default=[])
    args = ap.parse_args()
    oracle_paths = args.oracle or glob.glob(os.path.join(
        common.WORK, "runs", "*", "out", "oracle_sql.json"))
    gen = os.path.join(common.WORK, f"compare-sf{args.sf}")
    shutil.rmtree(gen, ignore_errors=True)
    datagen.generate(gen, args.sf)
    (pf, cf), (pg, cg) = profile(args.fixture), profile(gen)
    rows = [(k, pf[k], pg[k]) for k in pf]
    oracle = {}
    for path in oracle_paths:
        oracle.update(json.load(open(path)))
    for name, sql in sorted(oracle.items()):
        n = [c.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
             for c in (cf, cg)]
        rows.append((f"{name}.rows", *n))
    print(f"| property | fixture | generated (sf {args.sf}) |")
    print("|---|---|---|")
    for k, a, b in rows:
        fa, fb = (f"{x:.4g}" if isinstance(x, float) else str(x)
                  for x in (a, b))
        print(f"| {k} | {fa} | {fb} |")


if __name__ == "__main__":
    main()
