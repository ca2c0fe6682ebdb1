"""The pipeline's DuckDB gates from ``__spark_entry__``, run in tier-1.

Each gate runs its ``queries()`` entry on the test session and its
``oracle_sql()`` on DuckDB over the same sf0.001 parquet tables, and
compares them the way ``tests/run_oracle_check.py`` does (row count,
column names, order-insensitive values):

* q31 / q32 — per-row span-sequence equality for ``from_docs`` (at
  ``res="auto"``) and ``build_dataset``;
* q33 — lineage crash-resume re-emits the identical sequence;
* q35 — the hole-aware clip's largest-part selection.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from run_oracle_check import TABLES, compare, entrymod

SF_DIR = entrymod.SF_DEFAULT

GATES = [
    "q31_spans_from_docs",
    "q32_spans_build_dataset",
    "q33_lineage_resume",
    "q35_holed_clip",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} absent"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", GATES)
def test_gate_matches_duckdb(spark, duck, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    want = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert len(want) > 0, "a gate over zero oracle rows checks nothing"
    assert compare(name, got, want) == []
