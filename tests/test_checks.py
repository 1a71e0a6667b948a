"""Console-analysis parity: NullPointerCheck (NullPointerCheck.kt:53-147)
and OutOfBoundsCheck (OutOfBoundsCheck.kt:56-122) as distributed joins,
plus the ArrayCreationExpression frontend support they depend on
(ArrayCreationExpression.java:45-90, capacity per
EvaluateExtensions.kt:40-43)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.checks import (null_pointer_findings,
                                        out_of_bounds_findings)
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

JAVA_SRC = """
public class App {
    int[] makeArr() {
        int[] a = new int[4];
        int x = a[5];
        int ok = a[2];
        int[] b = new int[2 + 2];
        int y = b[4];
        return a;
    }
    void run() {
        App p = null;
        p.run();
        String s = null;
        int n = s.length();
        App q = new App();
        q.run();
    }
}
"""

PY_SRC = """
def f():
    xs = [1, 2, 3]
    bad = xs[3]
    good = xs[0]
    obj = None
    obj.method()
"""


@pytest.fixture(scope="module")
def graph(spark):
    g = CpgGraph(code_docs(spark, [("java/app/0001", "code/java", JAVA_SRC),
                                   ("py/mod/0001", "code/python", PY_SRC)]))
    return g.nodes, g.edges


def test_array_creation_expression(graph):
    """`new int[4]` parses to ArrayCreationExpression with a DIMENSIONS
    child, not a ConstructExpression with the size skipped."""
    nodes, edges = graph
    arrs = nodes.filter(F.col("label") == "ArrayCreationExpression")
    assert arrs.count() == 2  # new int[4], new int[2 + 2]
    dims = edges.filter(
        (F.col("pred") == "AST")
        & (F.col("props").getItem("field") == "DIMENSIONS"))
    assert dims.count() == 2


def test_null_pointer_findings(graph):
    nodes, edges = graph
    got = {(r["doc_id"], r["base_name"], r["line"])
           for r in null_pointer_findings(nodes, edges).collect()}
    assert got == {
        ("java/app/0001", "p", 13),   # App p = null; p.run()
        ("java/app/0001", "s", 15),   # String s = null; s.length()
        ("py/mod/0001", "obj", 7),    # obj = None; obj.method()
    }
    # the constructed receiver q and the array reads never fire


def test_out_of_bounds_findings(graph):
    nodes, edges = graph
    got = {(r["array_name"], r["index"], r["capacity"])
           for r in out_of_bounds_findings(nodes, edges).collect()}
    assert got == {
        ("a", 5, 4),   # new int[4]; a[5]
        ("b", 4, 4),   # new int[2 + 2]; b[4] — computed capacity
        ("xs", 3, 3),  # [1, 2, 3]; xs[3] — initializer-list capacity
    }
    # in-bounds accesses a[2] / xs[0] never fire


def test_value_eval_survives_null_literals(graph):
    """Regression: a corpus containing `null`/`None` literals used to
    crash evaluate_constants with CAST_INVALID_INPUT (the numeric-suffix
    regex turned 'null' into 'nul' before a strict double cast)."""
    from cpg_spark.operators.value_eval import evaluate_constants

    nodes, edges = graph
    vals = evaluate_constants(nodes, edges)
    assert vals.filter(F.col("value") == 4.0).count() > 0  # 2 + 2 folded
