"""Supertype closure + OVERRIDES (TypeHierarchyResolver.java:69-139
semantics) over a three-level python hierarchy spanning documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.external_hierarchy import probe_supertypes
from cpg_spark.operators.hierarchy import (
    overrides_edges,
    supertype_record_closure,
)
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

SRC = """\
class Base:
    def run(self):
        pass
    def only_base(self):
        pass

class Mid(Base):
    def run(self):
        pass

class Leaf(Mid):
    def run(self):
        pass
    def other(self):
        pass
"""


@pytest.fixture(scope="module")
def parsed(spark):
    g = CpgGraph(code_docs(spark, [("py/hier/0001", "code/python", SRC)]))
    return g.nodes, g.edges, g.mentions, g.symbols


def test_supertype_closure_transitive(spark, parsed):
    nodes, edges, _, symbols = parsed
    closure = {(r["descendant"], r["ancestor"])
               for r in supertype_record_closure(
                   nodes, edges, probe_supertypes(nodes, edges)[0]).collect()}
    assert ("Mid", "Base") in closure
    assert ("Leaf", "Mid") in closure
    assert ("Leaf", "Base") in closure  # transitive


def test_overrides(spark, parsed):
    nodes, edges, _, symbols = parsed
    ov = overrides_edges(nodes, edges, symbols)
    named = (
        ov.join(nodes.select(F.col("node_id").alias("subj"),
                             F.col("name").alias("s_name")), "subj")
        .join(nodes.select(F.col("node_id").alias("obj"),
                           F.col("name").alias("o_name")), "obj")
        .select("s_name", "o_name").collect()
    )
    pairs = {(r["s_name"], r["o_name"]) for r in named}
    # run overridden at every level; Leaf.run overrides BOTH ancestors
    assert pairs == {("run", "run")}
    assert len(named) == 3
    # only_base / other never appear
    assert all(s == "run" for s, _ in pairs)
