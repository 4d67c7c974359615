"""Run EVERY `queries()` entry against its `oracle_sql()` through DuckDB
at sf0.001, with the driver's comparator semantics: row count, schema
(sorted column names), and order-insensitive value comparison.

This is the local early-warning copy of the driver's t2 correctness gate.
"""

from __future__ import annotations

import datetime
import math

import pytest

import __spark_entry__ as contract
from tests.conftest import SF_DIR

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()

# slow layer (r14): this file re-runs the driver's own DuckDB
# certification over the whole contract (~7 min) — excluded from the
# default driver-budget run; `tools/drive_contract.py` and the driver
# itself cover the same ground.  Full run: -m 'slow or not slow'.
pytestmark = pytest.mark.slow


def _norm(v):
    """Normalize a cell so Spark and DuckDB renderings compare equal."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries round to 4 decimals already; absorb last-ulp noise, but
        # stay SIGN-BIT-FAITHFUL: the driver string-hashes values, so
        # -0.0 vs 0.0 is a real mismatch there (it cost kpi36 two rounds).
        # repr() preserves the sign bit; a bare float compare would not
        # (-0.0 == 0.0 in Python).
        return repr(round(v, 4))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _rows(colnames, rows):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, duck):
    assert_oracle_parity(name, spark, duck)


def assert_oracle_parity(name, spark, duck):
    """One contract query against its DuckDB oracle: schema, row count
    and order-insensitive values."""
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    if name not in ORACLES:
        assert len(spark_rows) >= 0  # rows-only queries: smoke only
        return

    rel = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: schema mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"

    left = _rows([c.lower() for c in spark_cols], spark_rows)
    right = _rows([c.lower() for c in duck_cols], duck_rows)
    mismatches = [
        (l, r) for l, r in zip(left, right) if l != r
    ]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows; first: {mismatches[:3]}"
