"""Spark-vs-DuckDB result comparison shared by ``tools/check_oracle_parity.py``
and ``tests/test_oracle_parity.py``: the oracle views over an sf dir, the
oracle's (columns, rows), and the order-insensitive, type-sensitive multiset
both sides are compared as.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per input table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    # Fetch via Arrow, like the gate this replicates: this is where
    # DuckDB's HUGEINT (int128 from raw sum()) silently becomes float64, so
    # a missing BIGINT cast in an oracle shows up here too.
    tbl = con.sql(sql).fetch_arrow_table()
    cols = tbl.column_names
    lists = [tbl.column(c).to_pylist() for c in cols]
    return cols, (list(zip(*lists)) if cols else [])


def norm_val(v):
    # Type-sensitive on purpose: the gate's value hash distinguishes
    # int from float (e.g. DuckDB HUGEINT -> float64 via Arrow), so an
    # int-valued float must NOT normalize to the int's string.
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return "dec:" + str(v)
    if isinstance(v, float):
        # NO -0.0 fold: the gate's hash is bit-sensitive, so the local
        # replica must flag signed-zero divergence too (r2 x4 lesson) —
        # queries/oracles normalize it themselves ("+ 0.0" after round)
        return "f:" + repr(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in idx) for r in rows)
