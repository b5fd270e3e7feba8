"""Seeded input tables for the analytics workload, and the DuckDB oracle
check of the headline query results.

The tables mirror the shape of the repository's synthetic test data (a
TPC-H-like star schema plus events, documents and embeddings); every value
is drawn from ``numpy.random.default_rng(seed)``, so one seed always gives
the same tables.
"""
import math
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "group filter stream big vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _ts(base: datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(offsets_us.astype(np.int64) + epoch_us, type=pa.timestamp("us"))


def _cents(a: np.ndarray) -> np.ndarray:
    return np.round(a, 2)


def make_tables(seed: int, scale: float) -> dict:
    """Every table at ``scale`` (1.0 = 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(100, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_evt = max(200, int(10000 * scale))
    n_doc = max(120, int(500 * scale))
    n_vec = max(60, int(500 * scale))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999, 9999, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999, 9999, n_supp))})
    adjectives = ["small", "red", "large", "blue", "steel", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _cents(900 + rng.uniform(0, 1100, n_part))})
    # customers 0..n/10 never order, so the anti join has answers
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(n_cust // 10, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        # multiples of 4.20, so a price split over an order's 1..7 lines
        # (q_opic_propagate) stays whole cents: sums of half or third cents
        # can land exactly on a rounding tie, which two engines' float sums
        # then round apart
        "o_totalprice": rng.integers(239, 119048, n_ord) * 420 / 100.0,
        "o_orderdate": _ts(datetime(1995, 1, 1),
                           rng.integers(0, 2404, n_ord) * 86_400_000_000),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900, 2000, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(datetime(1995, 1, 1),
                          rng.integers(0, 2600, n_line) * 86_400_000_000)})
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1),
                  np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))),
        "user_id": rng.integers(0, max(20, n_cust // 3), n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": _cents(rng.uniform(0, 20, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for d in range(n_doc):
        if d % 5 == 4 and d >= 5:
            # near-duplicate of an earlier document: a few words replaced
            ws = texts[int(rng.integers(0, d))].split()
            for i in rng.integers(0, len(ws), max(1, len(ws) // 12)):
                ws[i] = WORDS[int(rng.integers(0, len(WORDS)))]
        elif d % 17 == 16:
            ws = texts[d - 1].split()  # exact duplicate
        else:
            ws = [WORDS[int(i)] for i in rng.integers(0, len(WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(ws))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = (rng.normal(0, 1, (n_vec, 64)) / 8).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 4, n_vec).astype(np.int32)})
    return t


def write_tables(dest: Path, seed: int, scale: float) -> None:
    """Write the seeded tables as ``dest/<table>.parquet`` unless present."""
    done = dest / "_DONE"
    if done.exists():
        return
    dest.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, dest / f"{name}.parquet", compression="snappy")
    done.touch()


def _key(v):
    """Sort key and comparable form of one cell (numbers as floats, lists
    as tuples, nulls first)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return (0, 0.0)
    if isinstance(v, (bool, np.bool_)):
        return (1, float(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return (1, float(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _close(a, b) -> bool:
    if a[0] != b[0]:
        return False
    if a[0] == 1:
        return math.isclose(a[1], b[1], rel_tol=0, abs_tol=1e-9)
    if a[0] == 2:
        return len(a[1]) == len(b[1]) and all(_close(x, y) for x, y in zip(a[1], b[1]))
    return a[1] == b[1]


def oracle_check(data_dir: Path, out_dir: Path, oracle_sql: dict) -> dict:
    """Compare each query's Spark rows (JSON lines in ``out_dir/<query>.json``)
    with DuckDB running the query's oracle SQL over the same tables: same
    columns and row count, and equal values (numbers within 1e-9) after
    sorting the rows. Returns {query: "" if it matches, else why not}."""
    import json
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
    verdict = {}
    for name, sql in oracle_sql.items():
        try:
            rel = con.sql(sql)
            cols = sorted(rel.columns)
            order = [rel.columns.index(c) for c in cols]
            want = sorted(tuple(_key(r[i]) for i in order) for r in rel.fetchall())
            got_rows = [json.loads(line) for line in
                        (out_dir / f"{name}.json").read_text().splitlines() if line]
            got_cols = sorted(got_rows[0]) if got_rows else cols
            got = sorted(tuple(_key(r.get(c)) for c in cols) for r in got_rows)
            if got_cols != cols:
                verdict[name] = f"columns {got_cols} vs {cols}"
            elif len(got) != len(want):
                verdict[name] = f"rows {len(got)} vs {len(want)}"
            else:
                bad = next(((g, w) for g, w in zip(got, want)
                            if not all(_close(x, y) for x, y in zip(g, w))), None)
                verdict[name] = "" if bad is None else f"row {bad[0]} vs {bad[1]}"
        except Exception as e:  # a query the oracle cannot read is a failed check
            verdict[name] = f"error: {e}"
    return verdict
