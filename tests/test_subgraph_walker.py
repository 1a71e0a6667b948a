"""SubgraphWalker + Visitor traversal parity over the reference's
compiling/RecordDeclaration.java (SubgraphWalkerTest.testASTChildrenGetter,
VisitorTest.testAllEogNodeVisitor/testReturnStmtVisitor).

In the relational model the traversal UTILITIES are table scans:
getAstChildren(n) = the AST edge partition filtered on subj=n;
EOG-forward visiting = :func:`cpg_spark.operators.cc.bfs_reachable`
over the EOG partition.  What's asserted here is the SEMANTICS the
reference tests pin: the record's direct AST children (field + this +
constructor + method), forward-EOG reachability from the method's
first statement covering the whole body including both branch arms,
and the return statement being visited exactly once.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.cc import bfs_reachable
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

RECORD_JAVA = """\
package compiling;

class SimpleClass {

  private int field;

  SimpleClass() {
    // constructor
  }

  Integer method() {
    System.out.println("Hello world");
    int x = 0;
    if (System.currentTimeMillis() > 0) {
      x = x + 1;
    } else {
      x = x -1;
    }
    return x;
  }
}
"""


@pytest.fixture(scope="module")
def graph(spark):
    return CpgGraph(code_docs(spark, [("java/walker/0001", "code/java",
                                       RECORD_JAVA, 1)]))


def test_ast_children_getter(graph):
    """testASTChildrenGetter: the record's DIRECT AST children are the
    4 declarations — field, implicit this, constructor, method."""
    nodes, edges = graph.nodes, graph.edges
    rec = nodes.filter((F.col("label") == "RecordDeclaration")
                       & (F.col("name") == "SimpleClass")).collect()
    assert len(rec) == 1
    rid = rec[0]["node_id"]
    kids = (edges.filter((F.col("pred") == "AST") & (F.col("subj") == rid))
            .join(nodes.select(F.col("node_id").alias("obj"), "label",
                               "name"), "obj").collect())
    by_label = {}
    for k in kids:
        by_label.setdefault(k["label"], []).append(k["name"])
    assert by_label.get("FieldDeclaration") == ["field"]
    assert "ConstructorDeclaration" in by_label
    assert by_label.get("MethodDeclaration") == ["method"]


def test_eog_forward_visitor(graph):
    """testAllEogNodeVisitor semantics at our statement granularity:
    every statement of method() — both if-branch arms AND the return —
    is forward-EOG-reachable from the first statement; the return is
    reached exactly once (testReturnStmtVisitor)."""
    nodes, edges = graph.nodes, graph.edges
    eog = edges.filter(F.col("pred") == "EOG")
    # the method body's statements in span order
    meth = nodes.filter((F.col("label") == "MethodDeclaration")
                        & (F.col("name") == "method")).collect()[0]
    # first statement: the println call (lowest start_line inside method)
    stmts = (nodes.filter(F.col("loc").isNotNull())
             .filter(F.col("label").isin(
                 "CallExpression", "MemberCallExpression",
                 "DeclarationStatement", "IfStatement", "BinaryOperator",
                 "ReturnStatement"))
             .filter(F.col("loc.start_line") >= 12).collect())
    first = min(stmts, key=lambda r: (r["loc"]["start_line"],
                                      r["loc"]["start_col"] or 0))
    spark_ = nodes.sparkSession
    sources = spark_.createDataFrame([(first["node_id"],)], "node long")
    reach = bfs_reachable(
        eog.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
        sources).collect()
    reached = {r["node"] for r in reach}
    lines = {r["loc"]["start_line"] for r in stmts
             if r["node_id"] in reached and r["loc"] is not None}
    assert {15, 17, 19} <= lines, sorted(lines)
    rets = [r for r in stmts if r["label"] == "ReturnStatement"
            and r["node_id"] in reached]
    assert len(rets) == 1
