"""Link plans only the branches its input can fill.

One probe job tells ``link_combined`` whether any record supertype
resolves; with none, the ancestry joins, OVERRIDES and override dispatch
stay out of the plan.  The materialized function-pointer walk tells it
which row kinds exist; the terminal branch (a Window over the resolved
``&fun`` terminals) is planned only when the walk found a terminal.
Every case reads the executed plan of the frame ``link_combined``
returns, as ``test_function_pointers::test_walk_is_materialized_inside_link``
does."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.link import link_combined
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs
from tests.test_function_pointers import FUNC_PTR_C

PY_UTIL = "def helper(x):\n    return x + 1\n"
PY_APP = ("from util import helper\n\n"
          "class Box:\n    def get(self):\n        return helper(2)\n\n"
          "print(helper(1))\n")
JAVA_EXTENDS = """
class Base { void run() { } }
class Child extends Base { void run() { } }
class Main { void go(Base b) { b.run(); } }
"""
# warm link of the 2-doc python corpus, checkpointed as CpgGraph does:
# 33 jobs measured on a 4-core host, 60 before the probe merge and the
# branch pruning
WARM_JOB_BUDGET = 40


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _link(g: CpgGraph):
    return link_combined(g.mentions, g.symbols, g.nodes, g.edges)


@pytest.fixture(scope="module")
def py_graph(spark):
    return CpgGraph(code_docs(spark, [
        ("py/util/0001", "code/python", PY_UTIL),
        ("py/app/0001", "code/python", PY_APP)]))


def test_flat_corpus_plans_no_closure_branch(py_graph):
    combined, stats = _link(py_graph)
    plan = _plan(combined)
    assert stats["closure"] == "skipped" and stats["fnptr_kinds"] == []
    assert "OVERRIDES" not in plan
    assert "_anc_" not in plan
    assert "Window" not in plan
    # the skipped branches had nothing to add: the cross-doc call links
    calls = combined.filter((F.col("row_kind") == "edge")
                            & (F.col("pred") == "CALLS")).count()
    assert calls == 3


def test_extends_keeps_overrides_and_dispatch(spark):
    g = CpgGraph(code_docs(spark, [("java/ovr/0001", "code/java",
                                    JAVA_EXTENDS)]))
    combined, stats = _link(g)
    assert stats["closure"] == "built"
    assert "_anc_" in _plan(combined)
    run_by_line = {r["loc"]["start_line"]: r["node_id"]
                   for r in g.nodes.filter(
                       (F.col("label") == "MethodDeclaration")
                       & (F.col("name") == "run")).collect()}
    base_run, child_run = run_by_line[2], run_by_line[3]
    edges = [(r["pred"], r["subj"], r["obj"]) for r in combined.filter(
        F.col("row_kind") == "edge").collect()]
    assert ("OVERRIDES", child_run, base_run) in edges
    # b.run() is bound to Base.run; dispatch adds the override
    assert any(p == "CALLS" and o == child_run for p, _, o in edges)


def test_fnptr_terminal_branch_is_planned(spark):
    g = CpgGraph(code_docs(spark, [("c/fnptr/0001", "code/cpp",
                                    FUNC_PTR_C, 1)]))
    combined, stats = _link(g)
    assert stats["fnptr_kinds"] == ["hit", "term"]
    assert "Window" in _plan(combined)
    inferred = {(r["name"], r["props"]["arity"]) for r in combined.filter(
        (F.col("row_kind") == "node") & F.col("is_inferred")).collect()}
    assert {("fun", "0"), ("fun", "1")} <= inferred


def test_warm_link_job_budget(spark, py_graph):
    sc = spark.sparkContext
    _link(py_graph)[0].localCheckpoint(eager=True)  # warm
    group = "test_link_plan_warm"
    sc.setJobGroup(group, group)
    try:
        _link(py_graph)[0].localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= WARM_JOB_BUDGET
