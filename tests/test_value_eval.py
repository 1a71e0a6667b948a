"""Constant evaluation vs the reference's value_evaluation/example.cpp
semantics (ValueEvaluator.kt:71-360; ValueEvaluationTest)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.value_eval import evaluate_constants
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

# the reference's own fixture, verbatim
# (cpg-analysis/src/test/resources/value_evaluation/example.cpp)
EXAMPLE_CPP = """\
int main() {
    int b = 1 + 1;
    println(b);

    int a = 1;
    a = 2;
    println(a);

    int c = 5-2;
    float d = 8/3;
    float e = 7.0/2;
    int f = 2*5;
    int g = -c;

    println("Hello " + "world");

    bool h = 5 < 3;
    bool i = 3 > 3;
    bool j = 3 >= 3.2;
    bool k = 3.1 <= 3;
    bool l = 3L >= ((float) 3.1);
    bool m = ((char) 3) >= 3.1;
    bool n = 3 == 3.1;
}
"""


def test_example_cpp_constants(spark):
    """ValueEvaluatorTest over the reference's example.cpp: b=2, c=3,
    d=2 (INTEGER division of 8/3 — ValueEvaluator folds Int/Int to Int),
    e=3.5, f=10, g=-3, h..n all false, and the string concatenation
    "Hello " + "world"."""
    g = CpgGraph(code_docs(spark, [("cpp/veval/0001", "code/cpp",
                                    EXAMPLE_CPP)]))
    nodes, edges = g.nodes, g.edges
    vals = evaluate_constants(nodes, edges)
    named = (
        vals.join(nodes.select("node_id", "label", "name"), "node_id")
        .filter(F.col("label") == "VariableDeclaration")
        .select("name", "value", "is_bool")
        .collect()
    )
    got = {r["name"]: (r["value"], r["is_bool"]) for r in named}
    assert got["b"] == (2.0, False)
    assert got["c"] == (3.0, False)
    assert got["d"] == (2.0, False)  # 8/3 int division, NOT 2.67
    assert got["e"] == (3.5, False)
    assert got["f"] == (10.0, False)
    assert got["g"] == (-3.0, False)
    for flag in "hijklmn":
        assert got[flag] == (0.0, True), flag
    # `a` has two conflicting writes -> conservatively not a constant
    # (the dedicated ambiguity test below pins this)
    assert "a" not in got
    # "Hello " + "world" folds to one string constant
    concats = {r["s_value"] for r in vals.filter(
        F.col("s_value").isNotNull()).collect()}
    assert "Hello world" in concats


def test_ambiguous_write_is_not_constant(spark):
    """`a = 1; a = 2;` — two conflicting defs: the declaration must NOT
    get a constant (conservative projection of the reference's ambiguous
    result set)."""
    src = "int main() {\n int a = 1;\n a = 2;\n int b = 7;\n}\n"
    g = CpgGraph(code_docs(spark, [("cpp/veval2/0001", "code/cpp", src)]))
    nodes, edges = g.nodes, g.edges
    vals = evaluate_constants(nodes, edges)
    named = (
        vals.join(nodes.select("node_id", "label", "name"), "node_id")
        .filter(F.col("label") == "VariableDeclaration")
        .select("name", "value")
        .collect()
    )
    got = {r["name"]: r["value"] for r in named}
    assert got.get("b") == 7.0
    assert "a" not in got


def _py_values(spark, doc_id, src):
    """name -> (value, s_value) of each constant-valued variable of one
    python doc."""
    g = CpgGraph(code_docs(spark, [(doc_id, "code/python", src)]))
    nodes = g.nodes
    vals = evaluate_constants(nodes, g.edges)
    named = (
        vals.join(nodes.select("node_id", "label", "name"), "node_id")
        .filter(F.col("label") == "VariableDeclaration")
        .select("name", "value", "s_value")
        .collect()
    )
    return {r["name"]: (r["value"], r["s_value"]) for r in named}


def test_subscript_constant_index(spark):
    """ValueEvaluator.kt:269-294: a[const] folds through the declaration's
    initializer list."""
    src = "def f():\n    xs = [10, 20, 30]\n    v = xs[1]\n    return v\n"
    got = _py_values(spark, "py/veval_sub/0001", src)
    assert got["v"] == (20.0, None)


def test_conditional_expression_folds(spark):
    """ValueEvaluator.kt:296-314: known condition picks the branch."""
    src = "def f():\n    c = 7 if 2 > 1 else 9\n    d = 5 if 1 > 2 else 8\n"
    got = _py_values(spark, "py/veval_cond/0001", src)
    assert got["c"] == (7.0, None)
    assert got["d"] == (8.0, None)


def test_conditional_agreeing_branches(spark):
    """Branches that agree fold even when the condition is unknown."""
    src = "def f(x):\n    c = 4 if x else 4\n"
    got = _py_values(spark, "py/veval_agree/0001", src)
    assert got["c"] == (4.0, None)


def test_string_concatenation(spark):
    """ValueEvaluator.kt:120-243 string handling subset: '+' concatenates."""
    src = 'def f():\n    s = "ab" + "cd"\n    n = "x"\n'
    got = _py_values(spark, "py/veval_str/0001", src)
    assert got["s"] == (None, "abcd")
    assert got["n"] == (None, "x")


def test_string_literal_true_is_not_bool(spark):
    src = 'def f():\n    s = "True"\n'
    got = _py_values(spark, "py/veval_strbool/0001", src)
    assert got["s"] == (None, "True")
