"""Variable-resolution parity over the reference's variables_extended
fixtures (VariableResolverCppTest.java / VariableResolverJavaTest.java).

Each assertion mirrors one reference test method: the printLog call's
second argument must REFERS_TO a specific declaration (VRUtil
``assertUsageOf``).  Single-document bindings come straight from the
frontend; the ExternalClass cases are cross-document and resolve through
the link stage (broadcast symbol joins), matching the reference's
whole-directory analysis.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.fixtures_varres import VARRES_FIXTURES
from cpg_spark.frontends.cfamily_frontend import (
    parse_cpp_document,
    parse_java_document,
)


def _bindings(lang: str, fixture: str):
    """{(name, use_line): (target_label, target_line)} for REFERS_TO."""
    src = VARRES_FIXTURES[fixture]
    if lang == "java":
        g = parse_java_document(f"java/{fixture}/0001", 1, src, None)
    else:
        g = parse_cpp_document(f"cpp/{fixture}/0001", 1, src, None)
    assert not [n for n in g.nodes if n["label"] == "ProblemDeclaration"]
    nodes = {n["node_id"]: n for n in g.nodes}
    out = {}
    for e in g.edges:
        if e["pred"] != "REFERS_TO":
            continue
        s, o = nodes[e["subj"]], nodes.get(e["obj"])
        if o is None:
            continue
        sl = (s["loc"] or {}).get("start_line")
        out[(s["name"], sl)] = (o["label"], (o["loc"] or {}).get("start_line"))
    return out


@pytest.fixture(scope="module")
def cpp_b():
    return _bindings("cpp", "scope_variables_cpp")


@pytest.fixture(scope="module")
def java_b():
    return _bindings("java", "ScopeVariables_java")


# ---------------------------------------------------------------- C++
# line numbers refer to scope_variables.cpp; field varName=17,
# static staticVarName=18, first-loop local=25, second-loop local=29,
# inner-block local=31, function2 param=38, if-init local=42,
# catch param=48, inner-class field=86, inner static=87, main local=117


def test_cpp_outer_varname_accessed_implicit_this(cpp_b):
    assert cpp_b[("varName", 23)] == ("FieldDeclaration", 17)


def test_cpp_static_field_accessed_implicitly(cpp_b):
    assert cpp_b[("staticVarName", 24)] == ("FieldDeclaration", 18)


def test_cpp_varname_of_first_loop_accessed(cpp_b):
    assert cpp_b[("varName", 26)] == ("VariableDeclaration", 25)


def test_cpp_local_in_nested_block(cpp_b):
    assert cpp_b[("varName", 32)] == ("VariableDeclaration", 31)


def test_cpp_varname_of_second_loop_accessed(cpp_b):
    # after the inner block, the SECOND loop's own local is visible again
    assert cpp_b[("varName", 34)] == ("VariableDeclaration", 29)


def test_cpp_param_varname_accessed(cpp_b):
    assert cpp_b[("varName", 39)] == ("ParamVariableDeclaration", 38)


def test_cpp_member_varname_over_explicit_this(cpp_b):
    assert cpp_b[("varName", 40)] == ("FieldDeclaration", 17)


def test_cpp_varname_declared_in_if_clause(cpp_b):
    assert cpp_b[("varName", 43)] == ("VariableDeclaration", 42)


def test_cpp_varname_caught_as_exception(cpp_b):
    # catch (const string& varName) — binds the catch-clause local
    assert cpp_b[("varName", 49)] == ("VariableDeclaration", 48)


def test_cpp_member_accessed_over_instance(cpp_b):
    assert cpp_b[("varName", 52)] == ("FieldDeclaration", 17)


def test_cpp_param_still_visible_after_if_scope(cpp_b):
    # func2_imp_this_varName: the if-init local must NOT leak past the if
    assert cpp_b[("varName", 53)] == ("ParamVariableDeclaration", 38)


def test_cpp_explicit_static_member_internal_class(cpp_b):
    # ScopeVariables::staticVarName
    assert cpp_b[("staticVarName", 67)] == ("FieldDeclaration", 18)


def test_cpp_static_through_instances(cpp_b):
    # first.staticVarName / second.staticVarName → the one static field
    for line in (77, 79, 80):
        assert cpp_b[("staticVarName", line)] == ("FieldDeclaration", 18)


def test_cpp_inner_class_implicit_this(cpp_b):
    assert cpp_b[("varName", 90)] == ("FieldDeclaration", 86)


def test_cpp_inner_vs_outer_instances(cpp_b):
    assert cpp_b[("varName", 93)] == ("FieldDeclaration", 86)
    assert cpp_b[("varName", 94)] == ("FieldDeclaration", 17)


def test_cpp_qualified_statics_from_inner_class(cpp_b):
    assert cpp_b[("staticVarName", 95)] == ("FieldDeclaration", 18)
    assert cpp_b[("staticVarName", 96)] == ("FieldDeclaration", 87)


def test_cpp_qualified_statics_not_shadowed_by_local(cpp_b):
    # function2 declares `string staticVarName` — explicit quals still win
    assert cpp_b[("staticVarName", 108)] == ("FieldDeclaration", 18)
    assert cpp_b[("staticVarName", 109)] == ("FieldDeclaration", 87)


def test_cpp_main_local(cpp_b):
    for line in (120, 121, 126, 127):
        assert cpp_b[("varName", line)] == ("VariableDeclaration", 117)


def test_cpp_local_variables_fixture():
    b = _bindings("cpp", "local_variables_cpp")
    # t.call(foo): foo argument refers to main's local (line 15) /
    # testExpressionInExpressionList's local (line 24)
    assert b[("foo", 18)] == ("VariableDeclaration", 15)
    assert b[("foo", 27)] == ("VariableDeclaration", 24)
    assert b[("x", 25)] == ("VariableDeclaration", 22)


# ---------------------------------------------------------------- Java
# ScopeVariables.java: field varName=9, static staticVarName=10,
# main local=14, loop locals=26/29, function2 param=36, inner field=64,
# inner pseudo-static=66(decl spans 65-66; start 64+1?), catch params 83/85


def test_java_main_local(java_b):
    for line in (16, 17, 18, 21):
        assert java_b[("varName", line)] == ("VariableDeclaration", 14)


def test_java_loop_locals(java_b):
    assert java_b[("varName", 27)] == ("VariableDeclaration", 26)
    assert java_b[("varName", 31)] == ("VariableDeclaration", 29)


def test_java_implicit_this_after_loops(java_b):
    # func1_imp_this_varName after both loops → the field, not a loop local
    assert java_b[("varName", 33)] == ("FieldDeclaration", 9)


def test_java_param(java_b):
    assert java_b[("varName", 37)] == ("ParamVariableDeclaration", 36)


def test_java_inner_class_fields(java_b):
    assert java_b[("varName", 70)] == ("FieldDeclaration", 64)
    assert java_b[("varName", 77)] == ("FieldDeclaration", 64)


def test_java_qualified_this_binds_outer_field(java_b):
    # ScopeVariables.this.varName (JLS 15.8.4)
    assert java_b[("varName", 71)] == ("FieldDeclaration", 9)


def test_java_qualified_static(java_b):
    assert java_b[("staticVarName", 72)] == ("FieldDeclaration", 10)


def test_java_catch_params(java_b):
    # two catch clauses with differently-named exception locals
    assert java_b[("staticVarName", 84)] == ("VariableDeclaration", 83)
    assert java_b[("varName", 86)] == ("VariableDeclaration", 85)


# ------------------------------------------------- cross-document link


@pytest.fixture(scope="module")
def crossdoc(spark):
    """scope_variables.cpp + external_class.h as two documents, linked."""
    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.synth import code_docs

    g = CpgGraph(code_docs(spark, [
        ("cpp/scopevars/0001", "code/cpp",
         VARRES_FIXTURES["scope_variables_cpp"]),
        ("cpp/external_class/0001", "code/cpp",
         VARRES_FIXTURES["external_class_h"])]))
    rows = (
        g.linked.filter(F.col("pred") == "REFERS_TO")
        .join(g.mentions.select(F.col("mention_id").alias("subj"),
                                F.col("name").alias("m_name"),
                                F.col("base_type")), "subj")
        .join(g.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("name").alias("d_name"),
                             F.col("record").alias("d_record"),
                             F.col("kind").alias("d_kind")), "obj")
        .filter(F.col("base_type") == "ExternalClass")
        .select("m_name", "d_name", "d_record", "d_kind")
        .collect())
    return rows


def test_crossdoc_external_instance_field(crossdoc):
    """externalClass.varName → ExternalClass.varName FieldDeclaration in
    the header document (testAccessExternalClassMemberVarnameOverInstance)."""
    hits = [r for r in crossdoc if r["m_name"] == "varName"]
    assert hits and all(
        r["d_record"] == "ExternalClass" and r["d_kind"] == "field"
        for r in hits)


def test_crossdoc_external_static_member(crossdoc):
    """ExternalClass::staticVarName → the class's static field
    (testExplicitlyReferenceStaticMemberInExternalClass)."""
    hits = [r for r in crossdoc if r["m_name"] == "staticVarName"]
    assert hits and all(
        r["d_record"] == "ExternalClass" and r["d_kind"] == "field"
        for r in hits)
