"""The DuckDB differential gate over every registered query: each
``queries()`` entry runs on Spark and its ``oracle_sql()`` twin on DuckDB
over the same sf dir, and the two results must agree in column names, row
count and the type-sensitive multiset of values (``tools/parity.py``, the
comparison ``tools/check_oracle_parity.py`` also uses).
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import __spark_entry__ as entry_mod  # noqa: E402
from parity import connect, oracle_result, rows_to_multiset  # noqa: E402

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def oracle_db():
    con = connect(entry_mod.SF_DEFAULT)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle_db, name):
    assert name in ORACLES, f"{name} has no oracle: nothing checks its values"
    # no dedup operator caches anything; what a previous query can still
    # leave is reconcile()'s persists (a11), released here, and connected
    # components' localCheckpoint of its input (j5, j6, t12, t13, t17),
    # which is no catalog cache and stays
    spark.catalog.clearCache()
    sdf = QUERIES[name](spark, entry_mod.SF_DEFAULT)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    dcols, drows = oracle_result(oracle_db, ORACLES[name])
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    ms, md = rows_to_multiset(scols, srows), rows_to_multiset(dcols, drows)
    diffs = [(a, b) for a, b in zip(ms, md) if a != b]
    assert not diffs, f"{len(diffs)} rows differ, e.g. {diffs[:3]}"
