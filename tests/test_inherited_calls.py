"""Inherited member-call resolution through the record supertype closure
(CallResolver.java:1707-1739 ``getInvocationCandidatesFromParents`` +
overriding-candidate ranking :1089-1127; round-1 verdict Missing #1).

Covers the cross-document case the frontend-local walk cannot see: Base/Mid
declared in one document, Leaf(Mid) plus call sites in another."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.link import link_combined, split_linked
from cpg_spark.pipeline import CpgGraph
from cpg_spark.queries import INHERIT_BASE_SRC, INHERIT_CHILD_SRC
from cpg_spark.synth import code_docs


@pytest.fixture(scope="module")
def graph(spark):
    return CpgGraph(code_docs(spark, [
        ("py/baselib/0001", "code/python", INHERIT_BASE_SRC),
        ("py/childlib/0001", "code/python", INHERIT_CHILD_SRC)]))


def _resolutions(g):
    calls = g.linked.filter(F.col("pred") == "CALLS")
    rows = (
        calls.join(g.mentions.select(F.col("mention_id").alias("subj"),
                                     F.col("name").alias("site")), "subj")
        .join(g.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("record").alias("callee_record")),
              "obj", "left")
        .select("site", "callee_record").collect()
    )
    return {r["site"]: r["callee_record"] for r in rows}


def test_inherited_call_resolves_to_ancestor(graph):
    res = _resolutions(graph)
    # run() is declared only on Base, two levels above Leaf
    assert res["run"] == "Base"


def test_nearest_override_wins(graph):
    res = _resolutions(graph)
    # shared() exists on Base AND Mid: the nearer ancestor must win
    assert res["shared"] == "Mid"


def test_unknown_method_still_inferred(graph):
    inf = {r["name"] for r in graph.inferred.select("name").collect()}
    assert inf == {"mystery"}
    res = _resolutions(graph)
    assert res["mystery"] is None  # CALLS edge points at the inferred node


def test_exact_record_match_outranks_inherited(spark, graph):
    """A method defined on the record itself must win over any ancestor's
    method of the same name (depth 0 < depth k)."""
    nodes, edges, mentions, symbols = (graph.nodes, graph.edges,
                                       graph.mentions, graph.symbols)
    # leaf_only resolves same-doc at parse time; exercise the link path by
    # re-resolving a synthetic mention against Leaf
    # scope_path inside baselib so the same-module visibility arm applies
    row = dict.fromkeys(mentions.columns)
    row.update(mention_id=1, kind="member_call", name="shared",
               base_type="Mid", scope_path="baselib.probe",
               doc_id="py/baselib/0001", n_args=0, n_kwargs=0)
    m = spark.createDataFrame([row], mentions.schema)
    combined, _ = link_combined(m, symbols, nodes, edges)
    edges_out, _ = split_linked(combined)
    got = (
        edges_out.filter((F.col("pred") == "CALLS")
                         & (F.col("subj") == 1))
        .join(symbols.select(F.col("decl_id").alias("obj"),
                             F.col("record").alias("rec")), "obj")
        .select("rec").collect()
    )
    # base_type is Mid itself -> Mid.shared (exact), never Base.shared
    assert [r["rec"] for r in got] == ["Mid"]
