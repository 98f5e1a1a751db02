"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.001 and compares the result with
its ``oracle_sql()`` DuckDB twin: row count, column names, and
order-insensitive values — the same contract as CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

import __spark_entry__ as entrymod

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from oracle_check import canon  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only contract for non-SQL-expressible ops
        assert len(sdf) >= 0
        return
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != oracle {len(odf)}"
    s, o = canon(sdf), canon(odf)
    assert list(s.columns) == list(o.columns), f"{name}: columns {list(s.columns)} != {list(o.columns)}"
    pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False,
                                  rtol=0, atol=1e-9, obj=name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) > 0
