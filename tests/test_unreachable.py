"""UnreachableEOGPass semantics (reference resources/passes/unreachable/):
constant conditions mark the losing EOG branch UNREACHABLE=true."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators.unreachable import mark_unreachable
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

SRC = """\
def f(x):
    if True:
        a = 1
    else:
        a = 2
    while x:
        b = 3
"""


def test_constant_if_marks_false_branch(spark):
    g = CpgGraph(code_docs(spark, [("py/unreach/0001", "code/python", SRC)]))
    nodes, edges = g.nodes, g.edges
    marked = mark_unreachable(nodes, edges)
    eog = marked.filter(F.col("pred") == "EOG").select(
        "subj",
        F.col("props").getItem("branch").alias("branch"),
        F.col("props").getItem("unreachable").alias("unreachable"),
    ).collect()
    # the literal-True condition's false branch is unreachable
    false_branches = [r for r in eog if r["branch"] == "false"]
    unreachable = [r for r in false_branches if r["unreachable"] == "true"]
    assert len(unreachable) == 1
    # the true branch stays reachable
    assert all(r["unreachable"] is None for r in eog if r["branch"] == "true")
    # the while(x) condition is not constant: both branches reachable
    marked_count = marked.filter(
        F.col("props").getItem("unreachable").isNotNull()
    ).count()
    assert marked_count == 1


def test_computed_constant_condition(spark):
    """UnreachableEOGPass + ValueEvaluator composition (the reference's
    ifTrueComputed/ifFalseComputed cases, resources/passes/unreachable/):
    `y = 6; if y < 10` prunes the else branch even though the condition
    is not a literal."""
    src = ("def f():\n    y = 6\n    if y < 10:\n        a = 1\n"
           "    else:\n        a = 2\n")
    g = CpgGraph(code_docs(spark, [("py/unreach_comp/0001", "code/python",
                                    src)]))
    nodes, edges = g.nodes, g.edges
    marked = mark_unreachable(nodes, edges)
    eog = marked.filter(F.col("pred") == "EOG").select(
        F.col("props").getItem("branch").alias("branch"),
        F.col("props").getItem("unreachable").alias("unreachable"),
    ).collect()
    false_b = [r for r in eog if r["branch"] == "false"]
    true_b = [r for r in eog if r["branch"] == "true"]
    assert any(r["unreachable"] == "true" for r in false_b)
    assert all(r["unreachable"] != "true" for r in true_b)


def test_literal_only_mode_still_works(spark):
    src = "def f(x):\n    if False:\n        a = 1\n    else:\n        a = 2\n"
    g = CpgGraph(code_docs(spark, [("py/unreach_lit/0001", "code/python",
                                    src)]))
    nodes, edges = g.nodes, g.edges
    marked = mark_unreachable(nodes, edges, evaluate=False)
    eog = marked.filter(F.col("pred") == "EOG").select(
        F.col("props").getItem("branch").alias("branch"),
        F.col("props").getItem("unreachable").alias("unreachable"),
    ).collect()
    assert any(r["branch"] == "true" and r["unreachable"] == "true"
               for r in eog)
