"""Cypher-subset executor tests — mirrors the query shapes the reference's
Graph.kt executor supports (label filter, relationship chain, WHERE
comparisons, RETURN, LIMIT)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.query.cypher import CypherError, execute_cypher
from cpg_spark.synth import fixture_docs


@pytest.fixture(scope="module")
def graph(spark):
    g = CpgGraph(fixture_docs(spark, langs=("python",)))
    return g.nodes, g.edges


def test_label_filter(graph):
    nodes, edges = graph
    out = execute_cypher(
        "MATCH (c:CallExpression) WHERE c.name = 'bar' RETURN c",
        nodes, edges,
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "bar"
    assert rows[0]["doc_id"] == "py/function/0001"


def test_relationship_chain(graph):
    nodes, edges = graph
    out = execute_cypher(
        "MATCH (f:FunctionDeclaration)-[:PARAMETERS]->(p) RETURN p",
        nodes, edges,
    )
    names = {r["name"] for r in out.collect()}
    assert {"s", "s2"} <= names


def test_two_hop_chain_and_where(graph):
    nodes, edges = graph
    # variable declaration -> initializer (AST) restricted by line
    out = execute_cypher(
        "MATCH (v:VariableDeclaration)-[:AST]->(b:BinaryOperator) "
        "WHERE v.name = 'a' RETURN b",
        nodes, edges,
    )
    rows = out.collect()
    assert any(r["name"] == "+" for r in rows)


def test_inline_props_and_limit(graph):
    nodes, edges = graph
    out = execute_cypher(
        "MATCH (l:Literal {name: '42'}) RETURN l LIMIT 1", nodes, edges
    )
    assert out.count() == 1


def test_where_numeric_comparison(graph):
    nodes, edges = graph
    out = execute_cypher(
        "MATCH (c:CallExpression) WHERE c.start_line > 1 RETURN c",
        nodes, edges,
    )
    assert out.count() > 0


def test_constant_where_predicates(graph):
    """QueryTest.kt:116-171 — constant WHERE clauses fold to keep-all or
    keep-none: ``1=1`` returns every match, ``1='a'`` / ``1<0`` / ``0>1``
    return none."""
    nodes, edges = graph
    base = execute_cypher("MATCH (n) RETURN n", nodes, edges).count()
    assert base == nodes.count()  # testQueryAllNodes
    kept = execute_cypher("MATCH (n) WHERE 1=1 RETURN n", nodes, edges)
    assert kept.count() == base  # testQueryAllNodesWithEquals
    for q in ("MATCH (n) WHERE 1='a' RETURN n",   # testQueryNoResult
              "MATCH (n) WHERE 1<0 RETURN n",     # testQueryLesser
              "MATCH (n) WHERE 0>1 RETURN n"):    # testQueryGreaterThan
        assert execute_cypher(q, nodes, edges).count() == 0


def test_edge_pattern_returns_either_end(graph):
    """QueryTest.kt:43-86 — the same edge pattern can RETURN the source
    or the target variable, and a WHERE on the target restricts the
    source result."""
    nodes, edges = graph
    q = "MATCH (f:FunctionDeclaration)-[:PARAMETERS]->(p:ParamVariableDeclaration) RETURN {v}"
    n_f = execute_cypher(q.format(v="f"), nodes, edges).count()
    n_p = execute_cypher(q.format(v="p"), nodes, edges).count()
    assert n_f == n_p > 0
    narrowed = execute_cypher(
        "MATCH (f:FunctionDeclaration)-[:PARAMETERS]->"
        "(p:ParamVariableDeclaration) WHERE p.name = 's2' RETURN f",
        nodes, edges,
    ).collect()
    assert len(narrowed) == 1  # testQueryExistenceOfEdgeWithEquals


def test_unsupported_raises(graph):
    nodes, edges = graph
    with pytest.raises(CypherError):
        execute_cypher("MATCH (a)-[:X]-(b) RETURN a", nodes, edges)  # undirected
    with pytest.raises(CypherError):
        execute_cypher("MATCH (a) RETURN count(a)", nodes, edges)


# ---- round-5 breadth (VERDICT item 6): multi-hop with edge-property
# predicates, OR in WHERE, multi-variable RETURN ------------------------

def test_two_hop_chain_with_edge_property(graph):
    nodes, edges = graph
    # class -> method -> parameter, second hop filtered on the edge's
    # index property (ARGUMENTS/PARAMETERS carry index — Properties.java)
    out = execute_cypher(
        "MATCH (r:RecordDeclaration)-[:METHODS]->(m)"
        "-[p:PARAMETERS {index: 0}]->(v) RETURN r.name, m.name, v.name",
        nodes, edges,
    )
    rows = {(x["r_name"], x["m_name"], x["v_name"]) for x in out.collect()}
    assert rows  # at least one (record, method, first-param) triple
    for _, _, v in rows:
        assert v  # the index-0 parameter has a name
    # index: 1 yields a strict subset (fewer methods have 2+ params)
    out1 = execute_cypher(
        "MATCH (r:RecordDeclaration)-[:METHODS]->(m)"
        "-[p:PARAMETERS {index: 1}]->(v) RETURN r.name, m.name, v.name",
        nodes, edges,
    )
    assert out1.count() < len(rows) or out1.count() == 0


def test_where_or(graph):
    nodes, edges = graph
    a = execute_cypher(
        "MATCH (c:CallExpression) WHERE c.name = 'bar' RETURN c",
        nodes, edges).count()
    b = execute_cypher(
        "MATCH (c:CallExpression) WHERE c.name = 'print' RETURN c",
        nodes, edges).count()
    both = execute_cypher(
        "MATCH (c:CallExpression) WHERE c.name = 'bar' OR c.name = 'print'"
        " RETURN c", nodes, edges).count()
    assert both == a + b and a >= 1 and b >= 1
    # AND binds tighter than OR: x OR (y AND z)
    mixed = execute_cypher(
        "MATCH (c:CallExpression) WHERE c.name = 'bar'"
        " OR c.name = 'print' AND 1 = 0 RETURN c",
        nodes, edges).count()
    assert mixed == a


def test_multi_variable_return(graph):
    nodes, edges = graph
    out = execute_cypher(
        "MATCH (f:FunctionDeclaration)-[e:PARAMETERS]->(p)"
        " RETURN f.name, p.name, e.index",
        nodes, edges,
    )
    rows = out.collect()
    assert rows
    assert set(out.columns) == {"f_name", "p_name", "e_index"}
    assert all(r["e_index"] is not None for r in rows)


def test_edge_variable_in_where(graph):
    nodes, edges = graph
    all_rows = execute_cypher(
        "MATCH (f:FunctionDeclaration)-[e:PARAMETERS]->(p) RETURN p",
        nodes, edges).count()
    first_only = execute_cypher(
        "MATCH (f:FunctionDeclaration)-[e:PARAMETERS]->(p)"
        " WHERE e.index = 0 RETURN p",
        nodes, edges).count()
    assert 0 < first_only <= all_rows


def test_edge_property_orders_numerically(spark):
    """Edge props are a string map; a numeric literal must compare
    numerically — as strings "2" sorts after "10" and `< 10` missed it.
    A value that is not a number simply does not match."""
    nodes = spark.createDataFrame(
        [(1, "CallExpression", "f"), (2, "Literal", "a"), (3, "Literal", "b")],
        "node_id long, label string, name string")
    edges = spark.createDataFrame(
        [(1, "ARGUMENTS", 2, {"index": "2"}, "d"),
         (1, "ARGUMENTS", 3, {"index": "12"}, "d"),
         (1, "ARGUMENTS", 3, {"index": "true"}, "d")],
        "subj long, pred string, obj long, props map<string,string>, "
        "doc_id string")
    rows = execute_cypher(
        "MATCH (c:CallExpression)-[r:ARGUMENTS]->(a)"
        " WHERE r.index < 10 RETURN a.name",
        nodes, edges).collect()
    assert [r["a_name"] for r in rows] == ["a"]
    rows = execute_cypher(
        "MATCH (c:CallExpression)-[r:ARGUMENTS]->(a)"
        " WHERE r.index >= 10 RETURN a.name",
        nodes, edges).collect()
    assert [r["a_name"] for r in rows] == ["b"]
    # a non-numeric value does not match and does not fail the query
    # (a plain cast raises under ANSI mode)
    rows = execute_cypher(
        "MATCH (c:CallExpression)-[r:ARGUMENTS]->(a)"
        " WHERE r.index = 1 RETURN a.name",
        nodes, edges).collect()
    assert rows == []
