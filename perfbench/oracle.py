"""warehouse_ingest's query check: each query's result from the untimed
first pass and from the untimed pass after the timed ones (which reads
the memoized kinds the timed passes read) against its DuckDB oracle SQL
(SparkEntry.oracleSql), by the rule
tools/mini_verify.py applies: same sorted column names, same row count,
same order-insensitive rows with values stringified exactly (no float
rounding; floats by repr).

The oracle's answer to a query depends only on its SQL and the tables,
which do not change across runs, so it is cached beside the tables,
keyed by a hash of the SQL."""
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df):
    cols = sorted(df.columns)
    rows = []
    for row in df[cols].itertuples(index=False):
        rows.append("\x01".join(repr(v) if isinstance(v, float) else str(v) for v in row))
    return cols, sorted(rows)


def check(data, outputs, checks):
    """Compare every query; record each verdict in `checks`; return the
    names that failed."""
    with open(os.path.join(os.path.dirname(outputs), "oracle_sql.json")) as f:
        sqls = json.load(f)
    cache_path = os.path.join(data, "oracle_cache.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = None
    bad = []
    try:
        for name, sql in sorted(sqls.items()):
            try:
                key = hashlib.sha256(sql.encode()).hexdigest()
                if key not in cache:
                    if con is None:
                        con = duckdb.connect()
                        for t in TABLES:
                            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
                    cache[key] = canon(con.sql(sql).df())
                want = tuple(cache[key])
                verdicts = []
                for p in ("first", "final"):
                    got = canon(pd.read_parquet(os.path.join(outputs, p, name)))
                    if got != want:
                        verdicts.append(f"{p} pass: " + (
                            f"columns {got[0]} != {want[0]}" if got[0] != want[0] else
                            f"rows {len(got[1])} != {len(want[1])}"
                            if len(got[1]) != len(want[1]) else "values differ"))
                verdict = "; ".join(verdicts) or "ok"
            except Exception as e:  # a query the oracle cannot replay fails too
                verdict = f"error: {e}"[:200]
            checks[f"oracle.{name}"] = verdict
            if verdict != "ok":
                bad.append(name)
    finally:
        if con is not None:
            con.close()
            tmp = cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, cache_path)
    return bad
