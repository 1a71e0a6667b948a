"""Alias-chain canonicalization (FIXTURES.md §5 'alias chains'):
``type B = A; type C = B`` across documents must map all EVAL_TYPE edges
onto ONE canonical type node (TypeResolver.java:83-160 semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.canonicalize import remap_types, type_components
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

DOC_A = """\
package p

type A struct {
    V int
}
type B = A
"""

DOC_B = """\
package p

type C = B

func f() {
    var x C
    var y A
}
"""


@pytest.fixture(scope="module")
def canonical(spark):
    g = CpgGraph(code_docs(spark, [("go/alias_a/0001", "code/go", DOC_A),
                                   ("go/alias_b/0001", "code/go", DOC_B)]))
    # the pipeline's order: component map first, then the remap
    comp = type_components(g.nodes, g.edges)
    n2, e2 = remap_types(g.nodes, g.edges, comp)
    return g.nodes, g.edges, n2, e2, comp


def test_alias_chain_single_component(canonical):
    nodes, edges, n2, e2, comp = canonical
    rows = comp.collect()
    comps = {r["component"] for r in rows}
    assert len(rows) == 3      # A, B, C type nodes
    assert len(comps) == 1     # one component


def test_eval_type_remapped_to_canonical(canonical):
    nodes, edges, n2, e2, comp = canonical
    # x (typed C) and y (typed A) must now point at the same type node
    named = (
        e2.filter(F.col("pred") == "EVAL_TYPE")
        .join(n2.select(F.col("node_id").alias("subj"),
                        F.col("name").alias("s_name"),
                        F.col("label").alias("s_label")), "subj")
        .filter(F.col("s_label") == "VariableDeclaration")
        .filter(F.col("s_name").isin("x", "y"))
        .select("s_name", "obj")
        .collect()
    )
    objs = {r["s_name"]: r["obj"] for r in named}
    assert objs["x"] == objs["y"]


def test_non_canonical_type_nodes_dropped(canonical):
    nodes, edges, n2, e2, comp = canonical
    # distinct ids: the same content-hash type node is emitted by several
    # docs and only deduped at materialize
    before = nodes.filter(F.col("label") == "Type") \
        .select("node_id").distinct().count()
    after = n2.filter(F.col("label") == "Type") \
        .select("node_id").distinct().count()
    assert before - after == 2  # two aliases collapsed into the canonical
    # no dangling EVAL_TYPE targets
    dangling = (
        e2.filter(F.col("pred") == "EVAL_TYPE")
        .join(n2.select(F.col("node_id").alias("obj")), "obj", "left_anti")
        .count()
    )
    assert dangling == 0
