#!/usr/bin/env python3
"""Re-lay a scale-probe directory as 32 part-files per table (dev tool
only — the shipped library has no Python dependency).

The round-10 full-inventory sweep's input (make_scale_probe.py output)
is one single-row-group parquet file per table, so every scan stage is
ONE Spark task at any scale — the per-query ratios in BASELINE.md's
round-10 table measure single-thread per-row CPU (the conservative
reading). A warehouse that grows 10x ships ~10x more files; this script
produces that shape so the layout coda's "splits absorb scan growth"
check is reproducible:

  python3 scripts/make_layout_probe.py target/sfprobe/sf1full \
      target/sfprobe/sf1rg

Bench the result with scan splits sized to probe-scale files:

  SPARK_GRAFT_SF_DIR=$PWD/target/sfprobe/sf1rg \
  SPARK_GRAFT_MAX_PARTITION_BYTES=1048576 \
  SPARK_GRAFT_OPEN_COST_BYTES=65536 \
  SPARK_GRAFT_BENCH_ONLY=q61_,q184_ sbt -batch "runMain graft.Bench"

Each <table>.parquet becomes a DIRECTORY of part files (Spark reads it
transparently); tables under 1000 rows (the fixed catalog dims) stay
single-file.

Usage: python3 scripts/make_layout_probe.py <src_dir> <out_dir> [parts]
       (default parts: 32)
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["documents", "embeddings", "events", "customer", "supplier",
          "part", "orders", "lineitem", "region", "nation"]


def main(src, dst, parts=32):
    con = duckdb.connect()
    for t in TABLES:
        tbl = con.sql(f"SELECT * FROM '{src}/{t}.parquet'").arrow()
        n = tbl.num_rows
        d = os.path.join(dst, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        k = 1 if n < 1000 else parts
        step = (n + k - 1) // k
        for i in range(k):
            sl = tbl.slice(i * step, step)
            if sl.num_rows:
                pq.write_table(sl, os.path.join(d, f"part-{i:05d}.parquet"))
        print(f"{t}: {n} rows -> {k} files")


if __name__ == "__main__":
    # An unknown flag (e.g. --help) must not become a directory.
    args = sys.argv[1:]
    if not 2 <= len(args) <= 3 or any(a.startswith("-") for a in args):
        sys.exit(__doc__[__doc__.index("Usage:"):].rstrip())
    main(args[0], args[1], int(args[2]) if len(args) > 2 else 32)
