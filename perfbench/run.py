#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one fresh JVM, one run.

    python3 perfbench/run.py --workload lookup_enrich --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath under
perfbench/.build; inputs, dumps and records go under perfbench/.work.
Prints a human-readable summary, then as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import canon  # noqa: E402
import gen  # noqa: E402

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
WORKLOADS = {
    "lookup_enrich": {
        "queries": ["q1_lookup_basic", "q2_lookup_alias_default",
                    "q3_lookup_unmatched_nulls", "q4_lookup_dup_keys",
                    "q5_lookup_null_keys", "q6_lookup_default_value",
                    "q7_lookup_key_upcast", "q8_lookup_chained"],
        "tables": TPCH,
        "warm": 2,
        "timed": 2,
    },
    "dedup_pairs": {
        # q15 (MinHash-LSH) is left out: it misses pairs on some seeds
        "queries": ["q14_dedup_ngram_jaccard", "q49_jaccard_prefix_filter",
                    "q86_containment_pairs"],
        "tables": ["documents"],
        # every token of the corpus gets a seeded tag (gen.tag_documents)
        "tag_tokens": True,
        "warm": 1,
        "timed": 1,
    },
    "driver_rounds": {
        "queries": ["q78_bpe_merges", "q93_bpe_pack", "q143_pagerank",
                    "q120_release_bundle", "q132_label_propagation", "q200_kcore"],
        "tables": ["documents", "events"],
        "warm": 1,
        "timed": 1,
    },
}

HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("first_pass_cpu_s", "s"), ("pass_cpu_s", "s"),
              ("query_cpu_gmean_ms", "ms"), ("peak_rss_mb", "MB")]
# (name, unit, how a pass's per-query values combine)
LAYERS = [
    ("tables.load_ms", "ms", sum), ("tables.files_listed", "count", sum),
    ("build.ms", "ms", sum), ("build.jobs", "count", sum), ("build.job_ms", "ms", sum),
    ("plan.ms", "ms", sum), ("codegen.compiles", "count", sum),
    ("codegen.compile_ms", "ms", sum), ("plan.exchanges", "count", sum),
    ("plan.broadcasts", "count", sum), ("plan.scans", "count", sum),
    ("plan.readschema_max_cols", "count", max), ("exec.jobs", "count", sum),
    ("exec.stages", "count", sum), ("exec.tasks", "count", sum),
    ("exec.busy_ms", "ms", sum), ("exec.task_cpu_ms", "ms", sum),
    ("shuffle.write_mb", "MB", sum), ("shuffle.read_mb", "MB", sum),
    ("spill.mb", "MB", sum), ("scan.rows", "count", sum), ("out.rows", "count", sum),
    ("exec.join_rows", "count", sum), ("lookup.broadcast_mb", "MB", sum),
    ("driver.gap_ms", "ms", sum), ("jvm.gc_ms", "ms", sum), ("jvm.jit_ms", "ms", sum),
    ("jvm.heap_peak_mb", "MB", max)]
# first-pass figures of the layers that should move first_pass_s
FIRST_LAYERS = ["codegen.compiles", "codegen.compile_ms", "plan.ms", "jvm.jit_ms", "build.ms"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    paths = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        paths += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    """The harness classpath, building engine and harness when the sources
    changed since the cached build."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala/graft)")
    cache = BUILD / f"classpath-{sources_stamp()}.txt"
    if cache.is_file():
        return cache.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    try:
        out = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    for old in BUILD.glob("classpath-*.txt"):
        old.unlink()
    cache.write_text(cp)
    return cp


def java_cmd(cp, main, args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the whole fixed heap is touched at start, so peak_rss_mb does not
    # depend on how far G1 happened to grow into it
    return [str(java), *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, main, *args]


def run_jvm(cmd, log_path, cwd):
    """Runs one JVM to completion, killing it if it overruns."""
    for d in (WORK / "tmp", WORK / "spark-local", cwd):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(Path(log_path).read_text()[-4000:])
        fail(f"JVM exited with {code} (log: {log_path})")


def inputs(name, seed):
    """The workload's input tables for `seed`, generated on first use; the
    inputs of other seeds are removed."""
    w = WORKLOADS[name]
    d = WORK / "inputs" / f"{name}-s{seed}"
    for old in (WORK / "inputs").glob(f"{name}-s*"):
        if old != d:
            shutil.rmtree(old)
    done = d / "_DONE"
    if not done.is_file():
        shutil.rmtree(d, ignore_errors=True)
        counts = gen.write_inputs(str(d), w["tables"], seed, w.get("tag_tokens", False))
        done.write_text(json.dumps(counts))
    return d


def load_expected(name):
    path = HERE / "expected" / f"{name}.json"
    if not path.is_file():
        fail(f"no stored oracle results at {path}; run perfbench/oracle.py")
    return json.loads(path.read_text())


def check(name, dump_dir, expected):
    """Compares every query's dumped output with its stored oracle digest.
    Returns {query: None if it matches, else the reason}; a query that
    failed in the first pass left no output and gets "no output"."""
    con = canon.connect(WORK / "duckdb-tmp")
    verdict = {}
    for q in WORKLOADS[name]["queries"]:
        out = Path(dump_dir) / q
        if not out.is_dir():
            verdict[q] = "no output"
            continue
        want = {k: expected["queries"][q][k] for k in ("columns", "rows", "hash")}
        got = canon.digest(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
        verdict[q] = None if got == want else f"got {got}, want {want}"
    return verdict


def is_correct(verdict):
    return all(v is None for v in verdict.values())


def gmean_per_query(passes, value, queries):
    """Geometric mean over queries of each query's median value(pass, query)."""
    per_query = [median([value(p, q) for p in passes]) for q in queries]
    return math.exp(sum(math.log(x) for x in per_query) / len(per_query))


def app_cpu_ms(p, q):
    """Query q's CPU ms in pass p, less the JIT compiler threads'."""
    return p["query_cpu_ms"][q] - p["query_jit_cpu_ms"][q]


def end_to_end(rec, queries):
    timed = [p for p in rec["passes"] if "layers" not in p]
    # a query that failed in any pass is left out of the per-query figure
    ok = [q for q in queries if q not in rec["failed_queries"]] or queries
    return {
        "setup_s": rec["setup_s"],
        # the first pass pays the JIT's work, so its figure keeps it
        "first_pass_cpu_s": rec["first_pass"]["cpu_s"],
        "pass_cpu_s": median([p["cpu_s"] - p["jit_cpu_s"] for p in timed]),
        "query_cpu_gmean_ms": gmean_per_query(timed, app_cpu_ms, ok),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(rec, queries):
    traced = [p for p in rec["passes"] if "layers" in p]
    untraced = [p for p in rec["passes"] if "layers" not in p]
    out, units, per_q = {}, {}, {}
    for name, unit, agg in LAYERS:
        out[name] = median([agg(p["layers"][q][name] for q in queries) for p in traced])
        units[name] = unit
        per_q[name] = {q: median([p["layers"][q][name] for p in traced]) for q in queries}
    first = rec["first_pass"]["layers"]
    for name in FIRST_LAYERS:
        out[f"first.{name}"] = sum(first[q][name] for q in queries)
        units[f"first.{name}"] = dict((n, u) for n, u, _ in LAYERS)[name]
    traced_s = median([p["wall_s"] for p in traced])
    untraced_s = median([p["wall_s"] for p in untraced])
    out["first.pass_s"], units["first.pass_s"] = rec["first_pass"]["wall_s"], "s"
    out["traced.pass_s"], units["traced.pass_s"] = traced_s, "s"
    out["untraced.pass_s"], units["untraced.pass_s"] = untraced_s, "s"
    out["trace.overhead_pct"] = 100.0 * (traced_s / untraced_s - 1.0)
    units["trace.overhead_pct"] = "%"
    return out, units, per_q


def spread(xs):
    return (max(xs) - min(xs)) / median(xs) if xs else 0.0


def main():
    # a terminated run still stops the JVM it started (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not 0 < a.seconds <= 600:
        fail("--seconds must be in (0, 600]")
    if a.seed < 0:
        fail("--seed must be a non-negative integer")
    w = WORKLOADS[a.workload]

    cp = classpath()
    expected = load_expected(a.workload)
    t0 = time.time()
    in_dir = inputs(a.workload, a.seed)
    t_in = time.time()
    run_dir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    rec_path = run_dir / "record.json"
    run_jvm(java_cmd(cp, "perfbench.Harness", [
        "--queries", ",".join(w["queries"]), "--tables", ",".join(w["tables"]),
        "--input", str(in_dir), "--dump", str(run_dir / "dump"), "--warm", str(w["warm"]),
        "--timed", str(w["timed"]),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(rec_path)]),
        run_dir / "jvm.log", WORK / "jvm")
    rec = json.loads(rec_path.read_text())
    t_jvm = time.time()

    verdict = check(a.workload, run_dir / "dump", expected)
    correct = is_correct(verdict)
    shutil.rmtree(run_dir / "dump", ignore_errors=True)
    t_check = time.time()
    for q, v in verdict.items():
        print(f"check {q}: {'ok' if v is None else 'MISMATCH ' + v}")
    for q in rec["failed_queries"]:
        print(f"FAILED {q} in at least one pass (jvm.log has the trace); its CPU "
              f"time to the exception is in pass_cpu_s, not in query_cpu_gmean_ms")

    timed = [p for p in rec["passes"] if "layers" not in p]
    for label, passes in (("first pass", [rec["first_pass"]]),
                          ("warm-up passes", rec["warmup"]), ("timed passes", timed)):
        walls = [p["wall_s"] for p in passes]
        print(f"{label}: wall (s) {[round(x, 3) for x in walls]} spread={spread(walls):.3f}, "
              f"CPU (s) {[round(p['cpu_s'], 3) for p in passes]}, "
              f"of it JIT (s) {[round(p['jit_cpu_s'], 3) for p in passes]}, "
              f"stolen (s) {[round(p['steal_s'], 1) for p in passes]}")
    print(f"timed wall: pass median {median([p['wall_s'] for p in timed]):.3f} s, "
          f"query gmean {gmean_per_query(timed, lambda p, q: p['query_ms'][q], w['queries']):.1f} ms")
    print(f"loadavg 1-min: start={rec['loadavg_start']} end={rec['loadavg_end']}; "
          f"CPU stolen by other guests: {rec['steal_s']:.1f} s")
    print(f"run wall: {time.time() - t0:.1f} s (inputs {t_in - t0:.1f}, "
          f"JVM {t_jvm - t_in:.1f}, check {t_check - t_jvm:.1f})")
    if a.trace:
        values, units, per_q = per_layer(rec, w["queries"])
        print("per-query ledger (median over traced passes):")
        for name, _, _ in LAYERS:
            cells = " ".join(f"{q.split('_')[0]}={per_q[name][q]:.4g}" for q in w["queries"])
            print(f"  {name:26s} {cells}")
    else:
        values = end_to_end(rec, w["queries"])
        units = dict(END_TO_END)
    (run_dir / "metrics.json").write_text(json.dumps(values, indent=1))
    print(json.dumps({
        "correct": correct,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
