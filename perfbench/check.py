"""Correctness check of a run's outputs against DuckDB.

Query ops: each query's result (written by its warm-up execution) is
compared with DuckDB running the query's oracle SQL over the same input
files, under the hash-parity rules of tools/oracle_check.py (columns in
name order, timestamps at microseconds, object columns compared as
strings, numbers exactly); a query without oracle SQL must give the
same result on two warm-up executions. ETL ops: every read op's aggregate and each
pass's final table are compared with DuckDB replaying the same drops.
"""
import os

import duckdb
import pandas as pd

import gen

TABLES = gen.TABLES


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return pd.DataFrame({c: (df[c].astype("datetime64[us]")
                             if str(df[c].dtype).startswith("datetime") else df[c])
                         for c in df.columns})


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH got={list(a.columns)} want={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH got={len(a)} want={len(b)}"
    for c in a.columns:
        av, bv = a[c].reset_index(drop=True), b[c].reset_index(drop=True)
        try:
            if str(av.dtype) == "object" or str(bv.dtype) == "object":
                eq = av.astype(str).fillna("<null>").equals(bv.astype(str).fillna("<null>"))
            else:
                eq = bool(((av.isna() & bv.isna()) | (av == bv)).all())
        except Exception as e:  # noqa: BLE001 - any compare failure is a mismatch
            return f"COMPARE ERROR col {c}: {e}"
        if not eq:
            return f"VALUE MISMATCH col {c}"
    return "OK"


def _connect(data: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_queries(r, data: str, work: str):
    con = _connect(data)
    oracle = r["oracle_sql"]
    warm = {x["name"]: x["err"] for x in r["warmup"]}
    out = {}
    for name in r["queries"]:
        if warm.get(name):
            out[name] = f"ERROR {warm[name]}"
            continue
        try:
            got = pd.read_parquet(os.path.join(work, "results", name))
            if name not in oracle:
                # no reference exists: check that two executions agree
                rep = pd.read_parquet(os.path.join(work, "results", name + "__rep2"))
                out[name] = compare(got, rep)
                continue
        except Exception as e:  # noqa: BLE001
            out[name] = f"NO RESULT ({e})"
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001
            out[name] = f"ORACLE SQL ERROR ({e})"
            continue
        out[name] = compare(got, want)
    return out


_FOLD = " ".join(f"WHEN '{a}' THEN '{b}'" for a, b in [
    ("Jkt", "Jakarta"), ("JAKARTA", "Jakarta"), ("Sby", "Surabaya"),
    ("Bdg", "Bandung"), ("Smg", "Semarang")])


_ETL_READS = {
    "summary": """SELECT CAST(year(order_date) AS BIGINT) AS order_year, ship_city, status,
  COUNT(*) AS n, SUM(quantity) AS qty, SUM(CAST(quantity AS BIGINT) * price_cents) AS revenue_cents,
  SUM(prio) AS prio_sum, SUM(c_nationkey) AS nation_sum, SUM(p_size) AS size_sum""",
    "segments": """SELECT c_mktsegment, COUNT(*) AS n,
  SUM(CAST(quantity AS BIGINT) * price_cents) AS revenue_cents""",
}


def _etl_expected(con, drops, loaded: int, query: str):
    parts = []
    cols = ", ".join(f"'{c}': '{'BIGINT' if c in ('line_id', 'cust_id', 'part_id') else 'VARCHAR'}'"
                     for c in gen.DROP_COLUMNS)
    for i, name in enumerate(drops[:loaded]):
        reader = "read_csv" if name.endswith(".csv") else "read_json"
        extra = ", header = true" if name.endswith(".csv") else ""
        parts.append(f"SELECT DISTINCT {i} AS drop_no, {', '.join(gen.DROP_COLUMNS)} "
                     f"FROM {reader}('{name}', columns = {{{cols}}}{extra})")
    sql = f"""
WITH raw AS ({' UNION ALL '.join(parts)}),
typed AS (
  SELECT drop_no, line_id, TRY_CAST(order_date AS DATE) AS order_date, cust_id, part_id,
    CASE COALESCE(ship_city, 'UNKNOWN') {_FOLD} ELSE COALESCE(ship_city, 'UNKNOWN') END AS ship_city,
    CAST(split_part(priority, '-', 1) AS INTEGER) AS prio,
    COALESCE(status, 'UNKNOWN') AS status,
    COALESCE(TRY_CAST(quantity AS INTEGER), 0) AS quantity,
    CAST(ROUND(COALESCE(TRY_CAST(unit_price AS DOUBLE), 0) * 100) AS BIGINT) AS price_cents
  FROM raw),
latest AS (
  SELECT * FROM typed
  QUALIFY row_number() OVER (PARTITION BY line_id ORDER BY drop_no DESC) = 1)
{_ETL_READS[query]}
FROM latest JOIN customer ON cust_id = c_custkey JOIN part ON part_id = p_partkey
GROUP BY ALL"""
    rows = con.execute(sql).fetchall()
    return sorted(tuple(None if v is None else (int(v) if isinstance(v, (int, float)) and
                                                 not isinstance(v, bool) else str(v))
                        for v in row) for row in rows)


def _norm_rows(rows):
    return sorted(tuple(v for v in row) for row in rows)


def check_etl(r, data: str):
    con = _connect(data)
    drop_dir = os.path.join(data, "drops")
    drops = [os.path.join(drop_dir, d) for d in r["drops"]]
    cache = {}

    def expected(loaded, query):
        if (loaded, query) not in cache:
            cache[loaded, query] = _etl_expected(con, drops, loaded, query)
        return cache[loaded, query]
    out = {}
    for rd in r["etl_reads"]:
        ok = _norm_rows(rd["rows"]) == expected(rd["loaded"], rd["query"])
        out[f"{rd['op']}@{rd['pass']}"] = "OK" if ok else "VALUE MISMATCH"
    for fin in r["etl_finals"]:
        ok = _norm_rows(fin["rows"]) == expected(fin["loaded"], fin["query"])
        out[f"final@{fin['pass']}"] = "OK" if ok else "VALUE MISMATCH"
    return out


def check(w, r, data: str, work: str):
    """Returns ({check label: verdict}, predicate op -> wrong)."""
    if w["kind"] == "etl":
        v = check_etl(r, data)
        bad_passes = {int(k.split("@")[1]) for k, x in v.items()
                      if k.startswith("final@") and x != "OK"}
        bad_reads = {k for k, x in v.items() if not k.startswith("final@") and x != "OK"}
        return v, lambda o: o["pass"] in bad_passes or f"{o['name']}@{o['pass']}" in bad_reads
    v = check_queries(r, data, work)
    return v, lambda o: v.get(o["name"], "OK") != "OK"
