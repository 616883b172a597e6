"""Seeded input tables for the benchmark workloads.

The table *contents* come from one fixed generator seed (BASE_SEED), shaped
like the engine's sf0.1 fixture (FIXTURES.md section 2): a TPC-H-ish star
schema, a 5,000-document corpus over a 31-word vocabulary with 5% planted
" dup" copies, and a 100,000-row event stream. The run's --seed only
permutes row order and, for `dedup_pairs`, picks the token tag. Neither
changes any query result (the tag renames tokens one to one), so one set of
stored oracle results serves every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 15_000, 1_000, 20_000, 150_000
N_DOCS, N_EVENTS, N_USERS = 5_000, 100_000, 1_500

US_PER_DAY = 86_400 * 1_000_000
DAY_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
DAY_2024 = np.datetime64("2024-01-01", "D").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tpch():
    rng = np.random.default_rng([BASE_SEED, 1])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    adj = rng.integers(0, len(PART_ADJ), N_PART)
    noun = rng.integers(0, len(PART_NOUN), N_PART)
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    order_day = DAY_1995 + rng.integers(0, 2400, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(order_day * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n_li),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts((np.repeat(order_day, lines)
                           + rng.integers(1, 122, n_li)) * US_PER_DAY)})
    return t


def base_documents():
    """Random-word documents of 10-99 tokens; 5% are an earlier document's
    text plus " dup", the near-duplicates the pair queries find."""
    rng = np.random.default_rng([BASE_SEED, 2])
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def base_events():
    rng = np.random.default_rng([BASE_SEED, 3])
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, N_EVENTS)) + DAY_2024 * US_PER_DAY
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})


def tag_documents(docs, seed):
    """The corpus with every token suffixed "_<tag>", six letters drawn from
    `seed`, as scripts/make_scale_probe.py tags a replica. The renaming is
    one to one, so the pair structure is the original's."""
    rng = np.random.default_rng([seed, 7])
    tag = "".join(chr(97 + c) for c in rng.integers(0, 26, 6))
    tagged = [" ".join(w + "_" + tag for w in s.split(" "))
              for s in docs.column("text").to_pylist()]
    return docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(tagged)) \
        .set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                    pa.array([len(s) for s in tagged], pa.int64()))


def base_tables(names):
    out = {}
    if set(names) & {"region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"}:
        out.update(base_tpch())
    if "documents" in names:
        out["documents"] = base_documents()
    if "events" in names:
        out["events"] = base_events()
    return {k: out[k] for k in names}


def write_inputs(out_dir, names, seed, tag_tokens=False):
    """Write each named table to `out_dir/<name>.parquet`, rows in seeded
    order, `documents` with seeded token tags if `tag_tokens`. Returns the
    row count of each table written."""
    tables = base_tables(names)
    if tag_tokens:
        tables["documents"] = tag_documents(tables["documents"], seed)
    rng = np.random.default_rng([seed, 11])
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        tbl = tables[name]
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
