"""Correctness checks: order-insensitive value hashes against DuckDB.

A result matches its oracle when the row count, the column-name set and
the hash of its sorted canonical rows agree (the same comparison the
repo's registry self-check makes).  Checks run outside the timed window.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import duckdb

TPCH_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem"]
CORPUS_TABLES = ["documents", "embeddings"]


def _cell(v) -> str:
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # pandas renders SQL NULL doubles as NaN
        return repr(float(v))
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(pdf) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, hash) of a pandas frame."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted(
        "\x1f".join(_cell(row[i]) for i in order)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), tuple(sorted(c.lower() for c in cols)), h


def mismatch(got, want) -> str | None:
    """None when two digests agree, else a one-line reason."""
    if got == want:
        return None
    return f"rows {got[0]} vs {want[0]}, cols {got[1] != want[1]}, hash {got[2]} vs {want[2]}"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # keep stdout parseable
    return con


def duck_over(lake: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = _connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')"
        )
    return con


def duck_mart_sql(sql: str) -> str:
    """A ``marts_sql.SQL_MARTS`` text as the pipeline runs it on the lake
    (row-key tie-breakers become ``driverId``), with the two implicit
    string casts Spark makes with ANSI off spelled out for DuckDB."""
    return (
        sql.replace(", _rk1, _rk2, _rk3, _rk4, _rk5", ", driverId")
        .replace("WHERE position = 1", "WHERE TRY_CAST(position AS INTEGER) = 1")
        .replace("AVG(laps)", "AVG(TRY_CAST(laps AS DOUBLE))")
    )


def check_dag(result, manifest: dict, out_dir: str, sql_marts: dict) -> list[str]:
    """f1_dag: row counts equal the generator's, and each written mart
    equals DuckDB running the mart SQL over the written combined parquet."""
    errs = []
    for k in ("formatted_rows", "weather_rows", "combined_rows"):
        if getattr(result, k) != manifest[k]:
            errs.append(f"{k} {getattr(result, k)} != generated {manifest[k]}")
    con = _connect()
    con.execute(
        "CREATE VIEW races AS SELECT * FROM "
        f"read_parquet('{out_dir}/combined/*.parquet')"
    )
    if len(result.mart_paths) != len(sql_marts):
        errs.append(f"{len(result.mart_paths)} marts written, want {len(sql_marts)}")
    for name, sql in sql_marts.items():
        path = result.mart_paths.get(name)
        if path is None or not glob.glob(f"{path}/*.parquet"):
            errs.append(f"mart {name}: no parquet written")
            continue
        got = digest(con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
        bad = mismatch(got, digest(con.execute(duck_mart_sql(sql)).df()))
        if bad:
            errs.append(f"mart {name}: {bad}")
    con.close()
    return errs


def oracle_digest(con, sql: str, lake: str):
    """Digest of an oracle query over a generated lake.  The oracle reads
    only the lake's inputs, so its digest is cached beside them, keyed by
    the SQL text (a changed oracle is recomputed)."""
    path = f"{lake}/_oracle_{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json"
    try:
        with open(path) as f:
            rows, cols, h = json.load(f)
        return rows, tuple(cols), h
    except (OSError, ValueError):
        pass
    d = digest(con.execute(sql).df())
    with open(f"{path}.tmp", "w") as f:
        json.dump(d, f)
    os.replace(f"{path}.tmp", path)
    return d


def check_against(pdf, con, sql: str, lake: str, label: str) -> list[str]:
    bad = mismatch(digest(pdf), oracle_digest(con, sql, lake))
    return [f"{label}: {bad}"] if bad else []
