"""Real-corpus robustness gate (round 4): parse the reference repo's own
~240 test-resource programs — real Java/C/C++/Go/Python files the
builders never grew the parsers against one-by-one — and pin the
per-language degrade counts.  A grammar regression (rate up) or corpus
shrinkage (file count change) fails this test AND the driver's
cpg_problem_rate golden."""

from __future__ import annotations

import os

import pytest

from cpg_spark import queries as Q
from cpg_spark.sources import realcorpus

SF = "/root/testdata/sf0.001"

# the corpus is the reference checkout; real_file_docs raises without it
pytestmark = pytest.mark.skipif(
    not os.path.isdir(realcorpus.DEFAULT_ROOT),
    reason=f"reference corpus {realcorpus.DEFAULT_ROOT} not present")


@pytest.fixture(scope="module")
def rates(spark):
    return {r["lang"]: r for r in Q.q_cpg_problem_rate(spark, SF).collect()}


def test_corpus_size(rates):
    assert rates["java"]["n_files"] == 90
    assert rates["cpp"]["n_files"] == 121
    assert rates["go"]["n_files"] == 15
    assert rates["python"]["n_files"] == 15


def test_degrade_rates_pinned(rates):
    """Round-4 end state: ZERO degraded nodes in every language across
    the whole corpus (the last residual — casts to function-pointer
    TYPES, `(int64_t * (*)(int64_t *))0x..` in the retdec decompiler
    output — closed by the fnptr-type-cast arm in parse_operand)."""
    for r in rates.values():
        assert r["n_degraded"] == 0
        assert r["degrade_pm"] == 0


def test_no_whole_file_failures(spark):
    """No file in the corpus degrades to a whole-file ProblemDeclaration
    (round-3 had six: java varargs, condition declarations, elaborated
    casts, fnptr params — all closed in round 4)."""
    from pyspark.sql import functions as F

    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.sources.realcorpus import real_file_docs

    nodes = CpgGraph(real_file_docs(spark)).nodes
    probs = nodes.filter(F.col("label").startswith("Problem"))
    assert probs.count() == 0
