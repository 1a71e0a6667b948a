"""Dataflow type propagation (TypeListeners, HasType.java:56-65) and
function-pointer call resolution (CallResolver.java:1402-1434)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators.type_prop import dataflow_type_edges, propagate_types
from cpg_spark.pipeline import CpgGraph
from cpg_spark.queries import FNPTR_SRC, TYPE_PROP_SRC
from cpg_spark.synth import code_docs


def test_types_flow_through_assignments_and_returns(spark):
    g = CpgGraph(code_docs(spark, [("py/tp1/0001", "code/python",
                                    TYPE_PROP_SRC)]))
    types = propagate_types(g.nodes, g.edges)
    got = {
        r["name"]: (r["type_name"], r["origin"])
        for r in types.join(g.nodes.select("node_id", "label", "name"),
                            "node_id")
        .filter(F.col("label") == "VariableDeclaration")
        .select("name", "type_name", "origin").collect()
    }
    assert got["a"] == ("int", "DECLARED")
    assert got["b"] == ("int", "DATAFLOW")
    assert got["c"] == ("int", "DATAFLOW")  # through helper()'s return
    assert got["d"] == ("int", "DATAFLOW")


def test_conflicting_writers_stay_untyped(spark):
    """Frontend-opaque writers (call results) with disagreeing propagated
    types must leave the target untyped — the conflict-safe projection of
    the reference's multi-listener updates."""
    src = ("def g1():\n    return 1\n\n"
           "def g2():\n    return 'txt'\n\n"
           "def f(p):\n"
           "    if p:\n        e = g1()\n"
           "    else:\n        e = g2()\n"
           "    return e\n")
    g = CpgGraph(code_docs(spark, [("py/tp2/0001", "code/python",
                                    src)]))
    types = propagate_types(g.nodes, g.edges)
    e_rows = (
        types.join(g.nodes.select("node_id", "label", "name"), "node_id")
        .filter((F.col("label") == "VariableDeclaration")
                & (F.col("name") == "e")).collect()
    )
    assert e_rows == []  # int vs str call returns disagree -> no type


def test_dataflow_edges_reuse_type_node_ids(spark):
    g = CpgGraph(code_docs(spark, [("py/tp3/0001", "code/python",
                                    TYPE_PROP_SRC)]))
    new = dataflow_type_edges(g.nodes, g.edges)
    tids = {r["node_id"] for r in
            g.nodes.filter(F.col("label") == "Type").collect()}
    rows = new.collect()
    assert rows and all(r["obj"] in tids for r in rows)
    assert all(r["props"]["origin"] == "DATAFLOW" for r in rows)


def test_fnptr_call_resolves_and_no_inferred(spark):
    g = CpgGraph(code_docs(spark, [("py/fp9/0001", "code/python",
                                    FNPTR_SRC)]))
    callees = {
        r["callee"] for r in g.linked.filter(F.col("pred") == "CALLS")
        .join(g.nodes.select(F.col("node_id").alias("obj"),
                           F.col("name").alias("callee")), "obj")
        .select("callee").collect()
    }
    assert callees == {"helper", "other"}
    assert g.inferred.count() == 0  # no fabricated nodes for f/g
