"""The graph builder (``pipeline.CpgGraph``) and its docs format
(``synth.code_docs``).

Every frame the builder exposes reads a checkpoint: its plan holds no
Python stage (the parse kernel, the fnptr walk) and no shuffle (link's
joins), so a driver loop over it never re-runs parse or link."""

from __future__ import annotations

import pytest

from cpg_spark.pipeline import CpgGraph
from cpg_spark.queries import FNPTR_SIG_C, FNPTR_SRC
from cpg_spark.synth import code_docs

# plan nodes of Python stages: the parse kernel (mapInArrow), the fnptr
# walk (applyInArrow) and scalar Arrow UDFs
_PYTHON_NODES = ("MapInArrow", "FlatMapGroupsInArrow", "ArrowEvalPython")


@pytest.fixture(scope="module")
def graph(spark):
    # python and C function pointers: link runs the backward-DFG walk
    return CpgGraph(code_docs(spark, [
        ("py/fnptr/0001", "code/python", FNPTR_SRC),
        ("c/fnptr/0001", "code/cpp", FNPTR_SIG_C)]))


@pytest.mark.parametrize("frame", ["nodes", "edges", "mentions", "symbols",
                                   "linked", "inferred"])
def test_frames_read_only_checkpoints(graph, frame):
    df = getattr(graph, frame)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    for node in _PYTHON_NODES + ("Exchange",):
        assert node not in plan, (frame, node, plan)


def test_linked_resolves_function_pointers(graph):
    from pyspark.sql import functions as F

    callees = {r["name"] for r in graph.linked.filter(F.col("pred") == "CALLS")
               .join(graph.nodes.selectExpr("node_id as obj", "name"), "obj")
               .collect()}
    assert {"helper", "other", "target"} <= callees
    assert graph.link_stats["strategy"] in ("broadcast", "salted")


def test_link_runs_on_first_read(spark):
    g = CpgGraph(code_docs(spark, [("py/one/0001", "code/python", "x = 1\n")]))
    assert g.nodes.count() > 0
    assert "_link" not in vars(g)  # parse-only use never pays link
    g.inferred.count()
    assert "_link" in vars(g)


def test_code_docs_offset_is_per_row(spark):
    docs = code_docs(spark, [("a", "code/python", "x = 1\n"),
                             ("b", "code/cpp", "int x;\n", 1)])
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in docs.collect()}
    assert got == {"a": [("code/python", "x = 1\n", None, 0)],
                   "b": [("code/cpp", "int x;\n", None, 1)]}
