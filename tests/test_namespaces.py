"""C++ namespaces as link-time merged modules (ScopeManagerTest.kt
testMerge/testScopeFQN) + module-qualified call/ref resolution (the Go
cross-package path shares the same link arm)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs


def test_namespace_merge_across_files(spark):
    """ScopeManagerTest.testMerge: two files declaring ``namespace A``
    merge — both functions live under module A, and ``A::func1()`` from
    the second file resolves to the FIRST file's real declaration, not
    an inferred node."""
    g = CpgGraph(code_docs(spark, [
        ("p/f1.cpp", "code/cpp",
         "namespace A {\nint func1() { return 1; }\n}\n"),
        ("p/f2.cpp", "code/cpp",
         "namespace A {\nint func2() { return 2; }\n}\n"
         "int main() { int x = A::func1(); return x; }\n"),
    ]))
    tgt = (g.linked.filter(F.col("pred") == "CALLS")
           .join(g.nodes.selectExpr("node_id as obj", "name tn",
                                    "doc_id tdoc", "is_inferred"), "obj"))
    rows = {(r["tn"], r["tdoc"], r["is_inferred"]) for r in tgt.collect()}
    assert ("func1", "p/f1.cpp", False) in rows
    assert g.inferred.count() == 0


def test_namespace_fqn_nested(spark):
    """testScopeFQN: ``namespace A { namespace B { ... } }`` and the
    header form ``namespace A::B`` both yield FQN module A.B."""
    g = CpgGraph(code_docs(spark, [
        ("p/n1.cpp", "code/cpp",
         "namespace A {\nnamespace B {\nint func() { return 0; }\n}\n}\n"),
        ("p/n2.cpp", "code/cpp",
         "namespace A::B {\nint func2() { return 0; }\n}\n"),
    ]))
    by = {r["name"]: r for r in g.symbols.collect()}
    assert by["func"]["module"] == "A.B"
    assert by["func"]["fqn"] == "A.B.func"
    assert by["func2"]["module"] == "A.B"
    ns = {r["name"] for r in g.nodes.filter(
        F.col("label") == "NamespaceDeclaration").collect()}
    assert {"A", "A.B"} <= ns


def test_go_qualified_call_resolves_to_real_function(spark):
    """A module-qualified call to a function that IS in the corpus binds
    the real declaration (previously mis-minted an inferred node)."""
    g = CpgGraph(code_docs(spark, [
        ("go/util/lib.go", "code/go",
         "package util\nfunc Helper(x int) int { return x }\n"),
        ("go/app/main.go", "code/go",
         'package main\nimport "util"\nfunc main() { util.Helper(1) }\n'),
    ]))
    tgt = (g.linked.filter(F.col("pred") == "CALLS")
           .join(g.nodes.selectExpr("node_id as obj", "name tn",
                                    "is_inferred"), "obj"))
    rows = {(r["tn"], r["is_inferred"]) for r in tgt.collect()}
    assert ("Helper", False) in rows
    assert g.inferred.count() == 0


def test_go_qualified_call_to_stdlib_still_infers(spark):
    """fmt.Printf with no fmt package in the corpus still mints ONE
    deterministic inferred FunctionDeclaration (reference inference)."""
    g = CpgGraph(code_docs(spark, [
        ("go/app/main.go", "code/go",
         'package main\nimport "fmt"\nfunc main() { fmt.Printf("x") }\n'),
    ]))
    assert g.inferred.count() == 1
    assert g.inferred.first()["name"] == "Printf"


def test_using_namespace_grants_unqualified_visibility(spark):
    """``using namespace A;`` imports module A: an unqualified call to a
    namespace function resolves cross-file (UsingDirective)."""
    g = CpgGraph(code_docs(spark, [
        ("p/f1.cpp", "code/cpp",
         "namespace A {\nint helper() { return 1; }\n}\n"),
        ("p/f3.cpp", "code/cpp",
         "using namespace A;\nint main() { return helper(); }\n"),
    ]))
    tgt = (g.linked.filter(F.col("pred") == "CALLS")
           .join(g.nodes.selectExpr("node_id as obj", "name tn",
                                    "doc_id tdoc", "is_inferred"), "obj"))
    rows = {(r["tn"], r["tdoc"], r["is_inferred"]) for r in tgt.collect()}
    assert ("helper", "p/f1.cpp", False) in rows
    assert g.inferred.count() == 0


def test_namespace_var_qualified_ref(spark):
    """Namespace-level vars export under the namespace module and a
    qualified ``A::counter`` member_ref binds them."""
    g = CpgGraph(code_docs(spark, [
        ("p/f1.cpp", "code/cpp",
         "namespace A {\nint counter = 0;\n}\n"),
        ("p/f4.cpp", "code/cpp",
         "int main() { int x = A::counter; return x; }\n"),
    ]))
    var = g.nodes.filter((F.col("label") == "VariableDeclaration")
                       & (F.col("name") == "counter")
                       & (F.col("doc_id") == "p/f1.cpp")).select(
        F.col("node_id").alias("obj"))
    refers = g.linked.filter(F.col("pred") == "REFERS_TO").join(var, "obj")
    assert refers.count() >= 1
