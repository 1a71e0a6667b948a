"""Driver-style correctness gate, run locally: every query in
__spark_entry__.queries() with an oracle_sql() entry is executed through
Spark AND DuckDB on the same parquet tables; row count, column names and
(order-insensitive) values must match exactly.

Uses sf0.001 by default for speed; set CPG_SPARK_PARITY_SF=sf0.01 to run
the same scale the driver uses.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from cpg_spark.sources import realcorpus

SF_DIR = f"/root/testdata/{os.environ.get('CPG_SPARK_PARITY_SF', 'sf0.01')}"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(_norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


ORACLED = sorted(entrymod.oracle_sql().keys())

# cpg_problem_rate parses the reference checkout's files
# (real_file_docs raises without it)
_NEEDS_REFERENCE = pytest.mark.skipif(
    not os.path.isdir(realcorpus.DEFAULT_ROOT),
    reason=f"reference corpus {realcorpus.DEFAULT_ROOT} not present")


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=_NEEDS_REFERENCE) if n == "cpg_problem_rate" else n
    for n in ORACLED])
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    d_cols = [c.lower() for c in res.description and [d[0] for d in res.description]]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    # round-1 lesson (VERDICT "pass-but-vacuous"): an oracle check that
    # matches on the EMPTY set proves nothing — every registered query
    # must exercise its operator on real rows
    assert len(s_rows) > 0, f"{name}: vacuous 0-row oracle check"
    ms = _rows_to_multiset(s_cols, s_rows)
    md = _rows_to_multiset(d_cols, d_rows)
    if ms != md:
        only_s = [k for k in ms if ms[k] != md.get(k, 0)][:5]
        only_d = [k for k in md if md[k] != ms.get(k, 0)][:5]
        raise AssertionError(
            f"{name}: value mismatch; spark-only={only_s} duckdb-only={only_d}"
        )


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return >=0 rows with a
    stable schema (the driver's weaker check)."""
    qs = entrymod.queries()
    for name in set(qs) - set(ORACLED):
        df = qs[name](spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"subj", "pred", "obj"}
