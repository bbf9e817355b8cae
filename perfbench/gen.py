"""Seeded input generator for the benchmark.

Writes the star-schema fixture tables the registered queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each, and for the ETL workload
a series of dirty CSV/JSON order-line "drops".

The same (seed, scale) always yields byte-identical files; the program
under test only ever sees the files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Ship cities of the ETL drops, with the spelling variants a cleaning
# stage must fold (the reference's Jkt/Jakarta case).
CITIES = ["Jakarta", "Surabaya", "Bandung", "Medan", "Semarang"]
CITY_VARIANTS = {"Jakarta": ["Jkt", "JAKARTA"], "Surabaya": ["Sby"],
                 "Bandung": ["Bdg"], "Medan": [], "Semarang": ["Smg"]}

def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int, sf: float, docs: int, vecs: int, dup_share: float):
    """Returns {name: pyarrow.Table} for the fixture tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, docs)]
    # Injected near-duplicates: a seeded share of documents copy an
    # earlier document and append one marker token.
    dups = rng.choice(np.arange(1, docs), size=int(round(dup_share * docs)), replace=False)
    for i in sorted(dups):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs), pa.int32())})
    return out


def write_tables(outdir: str, seed: int, sf: float, docs: int, vecs: int,
                 dup_share: float) -> int:
    """Writes the fixture tables; returns the bytes written."""
    os.makedirs(outdir, exist_ok=True)
    total = 0
    for name, t in tables(seed, sf, docs, vecs, dup_share).items():
        path = os.path.join(outdir, f"{name}.parquet")
        _write(t, path)
        total += os.path.getsize(path)
    return total


def drops(seed: int, n_drops: int, lines_per_drop: int, n_cust: int, n_part: int,
          dup_share: float, null_share: float, variant_share: float,
          update_share: float):
    """Order-line drops of an incremental load, in arrival order.

    Drop d carries new lines dated in calendar year 1995 + d, a share of
    corrections that re-send new lines of the previous drop with a new
    status, exact duplicate rows, null cells and spelling variants of
    the ship city. Every drop after the first thus touches exactly two
    years, whatever the seed, so the seed varies the dirt, not the work.
    Returns a list of (format, rows) with rows as dicts.
    """
    rng = np.random.default_rng(seed + 1_000_003)
    out, prev = [], []
    next_line = 0
    for d in range(n_drops):
        start = np.datetime64(f"{1995 + d}-01-01")
        days = (np.datetime64(f"{1996 + d}-01-01") - start).astype(int)
        rows = []
        for _ in range(lines_per_drop):
            city = CITIES[int(rng.integers(0, len(CITIES)))]
            rows.append({
                "line_id": next_line,
                "order_date": str(start + np.timedelta64(int(rng.integers(0, days)), "D")),
                "cust_id": int(rng.integers(0, n_cust)),
                "part_id": int(rng.integers(0, n_part)),
                "ship_city": city,
                "priority": PRIORITIES[int(rng.integers(0, 5))],
                "status": ["Paid", "Pending", "Cancelled"][int(rng.integers(0, 3))],
                "quantity": int(rng.integers(1, 51)),
                "unit_price": f"{rng.uniform(1, 2000):.2f}",
            })
            next_line += 1
        fresh = [dict(r) for r in rows]
        if prev:
            k = int(round(update_share * len(rows)))
            for j in rng.choice(len(prev), size=min(k, len(prev)), replace=False):
                r = dict(prev[int(j)])
                r["status"] = "Returned"
                r["quantity"] = int(rng.integers(1, 51))
                rows.append(r)
        for r in rows:
            if rng.random() < null_share:
                r["quantity"] = None
            if rng.random() < null_share:
                r["ship_city"] = None
            elif rng.random() < variant_share and CITY_VARIANTS[r["ship_city"]]:
                v = CITY_VARIANTS[r["ship_city"]]
                r["ship_city"] = v[int(rng.integers(0, len(v)))]
        n_dup = int(round(dup_share * len(rows)))
        for j in rng.choice(len(rows), size=n_dup, replace=False):
            rows.append(dict(rows[int(j)]))
        order = rng.permutation(len(rows))
        rows = [rows[int(i)] for i in order]
        out.append(("json" if d % 3 == 2 else "csv", rows))
        prev = fresh
    return out


DROP_COLUMNS = ["line_id", "order_date", "cust_id", "part_id", "ship_city",
                "priority", "status", "quantity", "unit_price"]


def write_drops(outdir: str, drop_list) -> int:
    """Writes drops as drop_NNN.csv / drop_NNN.json; returns bytes."""
    os.makedirs(outdir, exist_ok=True)
    total = 0
    for i, (fmt, rows) in enumerate(drop_list):
        path = os.path.join(outdir, f"drop_{i:03d}.{fmt}")
        with open(path, "w", newline="\n") as f:
            if fmt == "csv":
                f.write(",".join(DROP_COLUMNS) + "\n")
                for r in rows:
                    f.write(",".join("" if r[c] is None else str(r[c])
                                     for c in DROP_COLUMNS) + "\n")
            else:
                for r in rows:
                    f.write(json.dumps({c: r[c] for c in DROP_COLUMNS}) + "\n")
        total += os.path.getsize(path)
    return total
