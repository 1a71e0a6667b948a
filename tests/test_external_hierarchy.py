"""JavaExternalTypeHierarchyResolver parity
(core/passes/JavaExternalTypeHierarchyResolver.java:44-80): record
supertype names that resolve to no source RecordDeclaration but name a
known JDK type pull in the JDK ancestry (superclass + interfaces,
transitive) — here as implicit RecordDeclarations + record→Type
SUPER_TYPE edges feeding the ordinary supertype closure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.external_hierarchy import (external_jdk_hierarchy,
                                                    probe_supertypes)
from cpg_spark.operators.hierarchy import supertype_record_closure
from cpg_spark.operators.parse import parse_docs, split_parse_output
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

SRC = """
public class Base { }
class CustomException extends RuntimeException {
    int code;
}
class Registry extends HashMap { }
class Child extends Base { }
"""


@pytest.fixture(scope="module")
def graph(spark):
    g = CpgGraph(code_docs(spark, [("java/jdkhier/0001", "code/java", SRC)]))
    nodes, edges = g.nodes, g.edges
    any_resolved, triggers = probe_supertypes(nodes, edges)
    # Child extends Base resolves in source; Base is no trigger
    assert any_resolved and triggers == ["HashMap", "RuntimeException"]
    jn, je = external_jdk_hierarchy(spark, triggers)
    return nodes, edges, jn, je


def test_implicit_jdk_records(graph):
    _, _, jn, _ = graph
    names = {r["name"] for r in jn.filter(
        F.col("label") == "RecordDeclaration").collect()}
    assert {"RuntimeException", "Exception", "Throwable", "Object",
            "HashMap", "AbstractMap", "Map"} == names
    # in-source supertypes are NOT expanded (TypeHierarchyResolver's job),
    # and unreferenced JDK entries stay out
    assert "Base" not in names and "ArrayList" not in names


def test_implicit_nodes_are_marked(graph):
    _, _, jn, _ = graph
    rows = jn.select("is_inferred", "is_implicit").distinct().collect()
    assert all(r["is_inferred"] and r["is_implicit"] for r in rows)


def test_closure_reaches_object_through_jdk_chain(spark, graph):
    nodes, edges, jn, je = graph
    closure = supertype_record_closure(
        nodes.unionByName(jn), edges.unionByName(je), True, with_depth=True)
    got = {(r["descendant"], r["ancestor"]): r["depth"]
           for r in closure.collect()}
    # the corpus record closes over the full JDK chain, minimal depths
    assert got[("CustomException", "RuntimeException")] == 1
    assert got[("CustomException", "Exception")] == 2
    assert got[("CustomException", "Throwable")] == 3
    assert got[("CustomException", "Object")] == 4
    # diamond: Registry -> HashMap -> {AbstractMap, Map}; Map also via
    # AbstractMap at depth 3 — minimal wins
    assert got[("Registry", "Map")] == 2
    assert got[("Registry", "Object")] == 3
    # plain in-source inheritance is untouched
    assert got[("Child", "Base")] == 1
    assert ("Child", "Object") not in got


def test_link_combined_carries_jdk_rows(spark, graph):
    from cpg_spark.operators.link import link_combined, split_linked

    docs = code_docs(spark, [("java/jdkhier/0001", "code/java", SRC)])
    nodes, edges, mentions, symbols = split_parse_output(parse_docs(docs))
    combined, _ = link_combined(mentions, symbols, nodes, edges)
    linked_edges, inferred_nodes = split_linked(combined)
    names = {r["name"] for r in inferred_nodes.filter(
        F.col("label") == "RecordDeclaration").collect()}
    assert "Throwable" in names and "Map" in names


def test_no_trigger_adds_nothing(spark):
    """A corpus whose supertypes all resolve in source (or name no JDK
    type) triggers nothing: no implicit rows reach the link output."""
    from cpg_spark.operators.link import link_combined, split_linked

    docs = code_docs(spark, [
        ("java/nojdk/0001", "code/java",
         "class Base { }\nclass Child extends Base { }\n"
         "class Odd extends Unknown { }\n")])
    nodes, edges, mentions, symbols = split_parse_output(parse_docs(docs))
    assert probe_supertypes(nodes, edges) == (True, [])
    assert external_jdk_hierarchy(spark, []) is None
    combined, _ = link_combined(mentions, symbols, nodes, edges)
    _, inferred_nodes = split_linked(combined)
    assert inferred_nodes.filter(F.col("props")["origin"] == "jdk").count() == 0


def test_root_only_trigger_reaches_no_edge(spark):
    """A trigger with no JDK supertypes of its own (a bare interface)
    yields no link, so nothing materializes for it."""
    assert external_jdk_hierarchy(spark, ["Runnable"]) is None
    jn, je = external_jdk_hierarchy(spark, ["Thread"])
    assert {r["name"] for r in jn.filter(
        F.col("label") == "RecordDeclaration").collect()} == {
        "Thread", "Object", "Runnable"}
    assert je.count() == 2
