#!/usr/bin/env python3
"""Build a 10x scale-stress corpus from sf0.1 (dev tool only — the
shipped library has no Python dependency).

The round-8 verdict asked for empirical proof of the 100 TB plan-shape
claims: run the heaviest queries at sf0.1 and at a 10x replica and
record per-query scaling exponents (BASELINE.md). This script writes
that replica under target/sfprobe/sf1:

  documents  x10 — doc_id shifted by k*N per replica k; for k>0 EVERY
              token gets a per-replica suffix "_rk<k>", so the
              within-replica shingle/clone structure is isomorphic to
              the original while cross-replica shingle overlap is
              ZERO (a last-token-only tag leaves replicas ~0.95
              Jaccard to each other — the pair queries would then
              measure a genuinely 10x-duplicated corpus, quadratic by
              the DATA, not the plan) and the vocabulary grows x10 —
              the honest corpus-growth shape; n_chars recomputed.
  embeddings x10 — vec_id shifted; the vector is ROTATED by k
              positions per replica (norm-preserving, low cosine to
              the original), so within-replica neighborhood structure
              replicates but cross-replica near-dup pairs do not.
  events     x10 — event_id and user_id shifted per replica: 10x the
              users, per-user history unchanged (the way traffic
              actually grows), timestamps untouched.
  TPC-H fact/dim tables (customer supplier part orders lineitem)
              x10 with --tpch (the round-10 FULL-inventory sweep):
              every key shifted by k*N per replica so each replica is
              a self-contained join-consistent universe — per-key
              fanouts (orders per customer, lines per order) stay
              constant while totals grow 10x, the way a warehouse
              actually grows. region/nation stay UNSCALED: they are
              fixed 5/25-row catalog dimensions at ANY TPC-H scale.
              Without --tpch they are copied unscaled (the round-9
              heavy-set behavior).

Usage: python3 scripts/make_scale_probe.py [out_dir] [replicas] [--tpch]
"""
import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def main(out_dir, reps, tpch=False):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    n_doc = con.sql(f"SELECT count(*) FROM '{SRC}/documents.parquet'").fetchone()[0]
    n_vec = con.sql(f"SELECT count(*) FROM '{SRC}/embeddings.parquet'").fetchone()[0]
    n_evt, n_usr = con.sql(
        f"SELECT count(*), max(user_id)+1 FROM '{SRC}/events.parquet'").fetchone()

    con.sql(f"""
      COPY (
        WITH r AS (
          SELECT doc_id + k.k * {n_doc} AS doc_id,
                 CASE WHEN k.k = 0 THEN text
                      ELSE array_to_string(list_transform(
                             string_split(text, ' '),
                             t -> t || '_rk' || k.k), ' ') END AS text,
                 lang, source
          FROM '{SRC}/documents.parquet',
               (SELECT unnest(range({reps})) AS k) k)
        SELECT doc_id, text, lang, source,
               CAST(len(text) AS BIGINT) AS n_chars
        FROM r
      ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")

    con.sql(f"""
      COPY (
        SELECT vec_id + k.k * {n_vec} AS vec_id,
               CASE WHEN k.k = 0 THEN embedding
                    ELSE list_concat(embedding[k.k + 1:],
                                     embedding[:k.k]) END AS embedding,
               label
        FROM '{SRC}/embeddings.parquet', (SELECT unnest(range({reps})) AS k) k
      ) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)""")

    con.sql(f"""
      COPY (
        SELECT event_id + k.k * {n_evt} AS event_id, ts,
               user_id + k.k * {n_usr} AS user_id,
               event_type, value, props
        FROM '{SRC}/events.parquet', (SELECT unnest(range({reps})) AS k) k
      ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)""")

    for t in ["region", "nation"]:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")

    scaled = ["documents", "embeddings", "events"]
    if not tpch:
        for t in ["customer", "supplier", "part", "orders", "lineitem"]:
            shutil.copyfile(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")
    else:
        counts = {}
        for t in ["customer", "supplier", "part", "orders", "lineitem"]:
            counts[t] = con.sql(
                f"SELECT count(*) FROM '{SRC}/{t}.parquet'").fetchone()[0]
        # key shift per table: primary key by own count, FKs by the
        # referenced table's count — each replica is join-consistent
        shifts = {
            "customer": {"c_custkey": "customer"},
            "supplier": {"s_suppkey": "supplier"},
            "part": {"p_partkey": "part"},
            "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
            "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                         "l_suppkey": "supplier"},
        }
        for t, keymap in shifts.items():
            cols = [c[0] for c in con.sql(
                f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
            sel = ", ".join(
                f"{c} + k.k * {counts[keymap[c]]} AS {c}" if c in keymap else c
                for c in cols)
            con.sql(f"""
              COPY (
                SELECT {sel}
                FROM '{SRC}/{t}.parquet',
                     (SELECT unnest(range({reps})) AS k) k
              ) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)""")
        scaled += list(shifts)

    for t in scaled:
        n = con.sql(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    # An unknown flag (e.g. --help) must not become the output directory.
    args = [a for a in sys.argv[1:] if a != "--tpch"]
    if len(args) > 2 or any(a.startswith("-") for a in args):
        sys.exit(__doc__[__doc__.index("Usage:"):].rstrip())
    out = args[0] if len(args) > 0 else "target/sfprobe/sf1"
    reps = int(args[1]) if len(args) > 1 else 10
    main(out, reps, tpch="--tpch" in sys.argv)
