#!/usr/bin/env python3
"""Regenerates the stored oracle results, perfbench/expected/<workload>.json.

    python3 perfbench/oracle.py [workload ...]      (default: every workload)

For each query of the workload it runs `SparkEntry.oracleSql` (dumped from
the engine's build) in DuckDB over the seed-independent input tables made by
gen.py, and stores the result's digest (canon.py). Nothing here reads the engine's outputs. Slow oracles (q120 and q132 take
about a minute in DuckDB) are the reason the results are stored.
"""
import json
import re
import shutil
import sys
import time

import run
import canon
import gen


def oracle_sql(workload):
    w = run.WORKLOADS[workload]
    out = run.WORK / "oracle" / f"{workload}-sql.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    run.run_jvm(run.java_cmd(run.classpath(), "perfbench.OracleSqlDump",
                             [",".join(w["queries"]), str(out)]),
                run.WORK / "oracle" / f"{workload}-sql.log", run.WORK / "jvm")
    return json.loads(out.read_text())


def regenerate(workload):
    import duckdb
    w = run.WORKLOADS[workload]
    sqls = oracle_sql(workload)
    in_dir = run.WORK / "oracle" / workload
    shutil.rmtree(in_dir, ignore_errors=True)
    counts = gen.write_inputs(str(in_dir), w["tables"], seed=0)
    con = canon.connect(run.WORK / "duckdb-tmp")
    con.execute("SET memory_limit = '4GB'")
    for t in w["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
    queries = {}
    for q in w["queries"]:
        t0 = time.time()
        con.execute(f"CREATE OR REPLACE TEMP TABLE res AS {sqls[q]}")
        entry = canon.digest(con, "SELECT * FROM res")
        entry["oracle_s"] = round(time.time() - t0, 1)
        queries[q] = entry
        print(f"{workload} {q}: {entry['rows']} rows, {entry['oracle_s']} s", flush=True)
    doc = {
        "workload": workload,
        "duckdb": duckdb.__version__,
        "generator_seed": gen.BASE_SEED,
        "base_rows": counts,
        "queries": queries,
    }
    path = run.HERE / "expected" / f"{workload}.json"
    path.parent.mkdir(exist_ok=True)
    path.write_text(dumps(doc))


def dumps(doc):
    """Indented JSON with every innermost list, such as one stored result
    row, on one line."""
    return re.sub(r"\[\s+([^\[\]{}]*?)\s+\]",
                  lambda m: "[" + ", ".join(x.strip() for x in m.group(1).split(",\n")) + "]",
                  json.dumps(doc, indent=1)) + "\n"


def main(argv):
    names = argv or sorted(run.WORKLOADS)
    unknown = [n for n in names if n not in run.WORKLOADS]
    if unknown:
        run.fail(f"unknown workload(s) {unknown}; choose from {sorted(run.WORKLOADS)}")
    for n in names:
        regenerate(n)


if __name__ == "__main__":
    main(sys.argv[1:])
