#!/usr/bin/env python3
"""Build the CORPUS-SIDE 1000x scale-stress probe from sf0.1 (dev tool
only — the shipped library has no Python dependency).

Round-12 (VERDICT r11 #1): the decade-3 probe for the text/embedding
operators a 100 TB pipeline actually leans on — 5M docs / 2M vectors /
100M events. TPC-H fact tables are NOT scaled (lineitem at 6e8 rows
doesn't fit the box and isn't the north star); they are copied
unscaled so artifact builds and event queries still resolve.

Scaled tables (each written as a ~32-part directory via duckdb
PER_THREAD_OUTPUT — the warehouse-shaped layout the r11 sweep used):

  documents  x reps — doc_id shifted by k*N; every token suffixed
              "_rk<k>" for k>0 (within-replica shingle structure
              isomorphic, cross-replica overlap ZERO, vocabulary
              grows x reps); n_chars recomputed.
  embeddings x reps — vec_id shifted; vector ROTATED by k % dim
              positions AND sign-flipped per (replica, position) by a
              deterministic integer hash. Both transforms preserve
              norms and within-replica pairwise dot products exactly
              while cross-replica cosines are near-zero.
              FIXES the make_scale_probe.py transform, whose
              list-slice rotation by k was an IDENTITY for k >= dim —
              the r11 100x probe silently carried 36 exact copies of
              every vector (replicas 64..99), a duplicated-corpus face
              rather than the intended grown-corpus face. At reps=1000
              that would be 937 copies — every ANN query would measure
              data-quadratic clique explosion, not engine scaling.
  events     x reps — event_id and user_id shifted per replica: reps x
              the users, per-user history unchanged; timestamps
              untouched.

Usage: python3 scripts/make_corpus_probe.py [out_dir] [replicas]
       (defaults: target/sfprobe/sf100rg 1000)
"""
import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
DIM = 64


def main(out_dir, reps):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 32")

    n_doc = con.sql(f"SELECT count(*) FROM '{SRC}/documents.parquet'").fetchone()[0]
    n_vec = con.sql(f"SELECT count(*) FROM '{SRC}/embeddings.parquet'").fetchone()[0]
    n_evt, n_usr = con.sql(
        f"SELECT count(*), max(user_id)+1 FROM '{SRC}/events.parquet'").fetchone()

    def copy_dir(select_sql, table):
        d = os.path.join(out_dir, f"{table}.parquet")
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)
        con.sql(f"COPY ({select_sql}) TO '{d}' "
                "(FORMAT PARQUET, PER_THREAD_OUTPUT TRUE)")

    copy_dir(f"""
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
      FROM r""", "documents")
    print("documents done")

    # rotation by k % DIM composed with a per-(replica, position) sign
    # flip: both norm-preserving and within-replica-dot-preserving;
    # cross-replica dot is a +-1-weighted sum -> near-zero cosine.
    copy_dir(f"""
      SELECT vec_id + k.k * {n_vec} AS vec_id,
             CASE WHEN k.k = 0 THEN embedding
                  ELSE list_transform(range({DIM}), i ->
                         embedding[((i + (k.k % {DIM})) % {DIM}) + 1] *
                         (CASE WHEN ((k.k * 2654435761 + i * 1597334677)
                                     // 8192) % 2 = 0
                               THEN 1.0 ELSE -1.0 END)::FLOAT)
             END AS embedding,
             label
      FROM '{SRC}/embeddings.parquet',
           (SELECT unnest(range({reps})) AS k) k""", "embeddings")
    print("embeddings done")

    copy_dir(f"""
      SELECT event_id + k.k * {n_evt} AS event_id, ts,
             user_id + k.k * {n_usr} AS user_id,
             event_type, value, props
      FROM '{SRC}/events.parquet',
           (SELECT unnest(range({reps})) AS k) k""", "events")
    print("events done")

    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")

    for t in ["documents", "embeddings", "events"]:
        n = con.sql(
            f"SELECT count(*) FROM '{out_dir}/{t}.parquet/*.parquet'"
        ).fetchone()[0]
        files = len(os.listdir(f"{out_dir}/{t}.parquet"))
        print(f"{t}: {n} rows in {files} files")


if __name__ == "__main__":
    # An unknown flag (e.g. --help) must not become the output directory.
    args = sys.argv[1:]
    if len(args) > 2 or any(a.startswith("-") for a in args):
        sys.exit(__doc__[__doc__.index("Usage:"):].rstrip())
    out = args[0] if len(args) > 0 else "target/sfprobe/sf100rg"
    reps = int(args[1]) if len(args) > 1 else 1000
    main(out, reps)
