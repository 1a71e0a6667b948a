"""CXXAmbiguitiesTest parity over the reference's own fixtures
(cpg-core/src/test/resources/{function_ptr_or_type_cast.c,
method_or_function_call.cpp, call_me_crazy.h}):

* ``(A)(B);`` is a CallExpression when A is a function pointer and a
  CastExpression when A names a type (incl. through a typedef chain
  ending in a postfix ``struct S {...} typedef s_t;``).
* ``(a.foo)(1)`` / ``(b.bar)(3)`` must not crash; records and main
  survive.
* ``call(me(crazy));`` inside a method parses as nested calls (the
  reference contains a CDT mis-parse to a local ProblemDeclaration —
  CXXAmbiguitiesTest:55-82 documents that as a known limitation; a
  hand-rolled parser resolves it outright)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

FNPTR_OR_CAST_C = """
void foo(int i) {
}

struct S {
    int a;
} typedef s_t;

typedef s_t* s_t_p;

int main() {
    void (*ptr)(int) = &foo;

    // this is a function call
    (*ptr)(1);
    (ptr)(2);

    // this is a type case
    (int)(3);
    (s_t_p)(4);

    return 0;
}
"""

METHOD_OR_FUNCTION_CPP = """
struct A {
    void foo(int i) {
    }
};

struct B {
    void (*bar)(int);
};

void bar(int i) {
}

int main() {
    A a;
    B b;
    b.bar = &bar;

    // foo is a method
    (a.foo)(1);
    a.foo(2);

    // bar is a function
    (b.bar)(3);
    (*b.bar)(3);

    return 0;
}
"""

CALL_ME_CRAZY_H = """
class MyClass {
private:
\tint someFunction()
\t{
\t\tcall(me(crazy));
\t\treturn 1;
\t}

};
"""


def test_function_call_or_type_cast(spark):
    """testFunctionCallOrTypeCast (CXXAmbiguitiesTest:88-117)."""
    g = CpgGraph(code_docs(spark, [("cpp/ambig/0001", "code/cpp",
                                    FNPTR_OR_CAST_C)]))
    labels = {(r["label"], r["name"]) for r in g.nodes.collect()}
    assert ("FunctionDeclaration", "main") in labels
    assert ("FunctionDeclaration", "foo") in labels
    # the two (A)(B) statements where A names a type are casts
    casts = {r["name"] for r in g.nodes.filter(
        F.col("label") == "CastExpression").collect()}
    assert casts == {"int", "S*"}  # s_t_p resolves through the chain
    # the two fnptr invocations are calls and resolve to foo through the
    # backward DFG walk (CallResolver.java:1402-1434)
    callees = {
        r["callee"] for r in g.linked.filter(F.col("pred") == "CALLS")
        .join(g.nodes.select(F.col("node_id").alias("obj"),
                           F.col("name").alias("callee")), "obj").collect()
    }
    assert "foo" in callees


def test_method_or_function_call(spark):
    """testMethodOrFunction (CXXAmbiguitiesTest:125-141): parse must
    survive, records and main intact."""
    g = CpgGraph(code_docs(spark, [("cpp/ambig/0002", "code/cpp",
                                    METHOD_OR_FUNCTION_CPP)]))
    got = {(r["label"], r["name"]) for r in g.nodes.collect()}
    assert ("RecordDeclaration", "A") in got
    assert ("RecordDeclaration", "B") in got
    assert ("FunctionDeclaration", "main") in got
    assert ("MethodDeclaration", "foo") in got
    assert not any(lbl == "ProblemDeclaration" for lbl, _ in got)


def test_call_me_crazy(spark):
    """testCallVsFunctionDeclaration (CXXAmbiguitiesTest:55-82): the
    record and its method survive; the nested call in the body parses as
    real CallExpressions (no CDT mis-parse to contain)."""
    g = CpgGraph(code_docs(spark, [("cpp/ambig/0003", "code/cpp",
                                    CALL_ME_CRAZY_H)]))
    got = {(r["label"], r["name"]) for r in g.nodes.collect()}
    assert ("RecordDeclaration", "MyClass") in got
    assert ("MethodDeclaration", "someFunction") in got
    calls = {n for lbl, n in got if lbl == "CallExpression"}
    assert {"call", "me"} <= calls
    assert not any(lbl == "ProblemDeclaration" for lbl, _ in got)
