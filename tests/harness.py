"""Local replica of the driver's correctness harness: run each
__spark_entry__ queries() entry on Spark and its oracle_sql() on DuckDB over
the same parquet tables, compare row count, column names, and
order-insensitive values."""

from __future__ import annotations

import datetime
import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    sdf = spark_df
    scols = sorted(sdf.columns)
    srows = [
        tuple(_norm(r[c]) for c in scols) for r in sdf.collect()
    ]
    ddf = con.execute(sql).fetchdf()
    dcols = sorted(ddf.columns)
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return False, f"columns differ: spark={scols} duckdb={dcols}"
    drows = [
        tuple(_norm(v) for v in row)
        for row in ddf[[c for c in dcols]].itertuples(index=False, name=None)
    ]
    if len(srows) != len(drows):
        return False, f"row counts differ: spark={len(srows)} duckdb={len(drows)}"
    if sorted(map(repr, srows)) != sorted(map(repr, drows)):
        sset = sorted(map(repr, srows))
        dset = sorted(map(repr, drows))
        diff = [
            (a, b) for a, b in zip(sset, dset) if a != b
        ][:3]
        return False, f"values differ, first diffs: {diff}"
    return True, f"OK ({len(srows)} rows)"


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, str]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_connection(sf_dir)
    results: dict[str, str] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                results[name] = f"ROWS-ONLY ({n} rows)"
                continue
            ok, msg = compare(df, con, oracles[name])
            results[name] = ("PASS " if ok else "FAIL ") + msg
        except Exception as e:  # noqa: BLE001
            results[name] = f"ERROR {type(e).__name__}: {str(e)[:300]}"
    return results
