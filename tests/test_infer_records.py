"""InferenceTest parity (cpg-core/.../enhancements/InferenceTest.kt over
resources/inference/{record,record_ptr}.cpp): member accesses on the
unknown record ``T`` infer the record, its fields (typed from the write's
value) and — for member calls — its methods, upgrading kind to class."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.fixtures_cfamily import CPP_FIXTURES
from cpg_spark.operators.infer import infer_records
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs


@pytest.fixture(scope="module")
def inferred(spark):
    g = CpgGraph(code_docs(spark, [
        (f"cpp/{n}/0001", "code/cpp", CPP_FIXTURES[n])
        for n in ("inference_record", "inference_record_ptr")]))
    inf_nodes, inf_edges = infer_records(g.mentions, g.nodes, g.edges)
    return g.nodes, inf_nodes.persist(), inf_edges.persist()


def _members(nodes, inf_nodes, inf_edges, kind):
    recs = inf_nodes.filter(
        (F.col("label") == "RecordDeclaration")
        & (F.col("props").getItem("kind") == kind)
    ).select(F.col("node_id").alias("rec_id"))
    mem = inf_edges.filter(F.col("pred").isin("FIELDS", "METHODS")).select(
        F.col("subj").alias("rec_id"), F.col("obj").alias("member_id"))
    mn = inf_nodes.select(F.col("node_id").alias("member_id"),
                          F.col("name").alias("member"),
                          F.col("label").alias("mlabel"))
    ty = inf_edges.filter(F.col("pred") == "EVAL_TYPE").select(
        F.col("subj").alias("member_id"), F.col("obj").alias("tid"))
    tn = nodes.filter(F.col("label") == "Type").select(
        F.col("node_id").alias("tid"), F.col("name").alias("tname"))
    rows = (recs.join(mem, "rec_id").join(mn, "member_id")
            .join(ty, "member_id", "left").join(tn, "tid", "left")
            .select("member", "mlabel", "tname").distinct().collect())
    return {(r["member"], r["mlabel"], r["tname"]) for r in rows}


def test_record_inference_struct(spark, inferred):
    """record.cpp (no member call): T is a struct with value:int and
    next:T* (InferenceTest.testRecordInference)."""
    nodes, inf_nodes, inf_edges = inferred
    assert _members(nodes, inf_nodes, inf_edges, "struct") == {
        ("value", "FieldDeclaration", "int"),
        ("next", "FieldDeclaration", "T*"),
    }


def test_record_inference_class_with_method(spark, inferred):
    """record_ptr.cpp: node->dump() upgrades T to class and infers the
    method (InferenceTest.testRecordInferencePointer +
    handleUnknownClassMethod)."""
    nodes, inf_nodes, inf_edges = inferred
    assert _members(nodes, inf_nodes, inf_edges, "class") == {
        ("value", "FieldDeclaration", "int"),
        ("next", "FieldDeclaration", "T*"),
        ("dump", "MethodDeclaration", None),
    }


def test_all_inferred_and_refers(spark, inferred):
    nodes, inf_nodes, inf_edges = inferred
    assert inf_nodes.filter(~F.col("is_inferred")).count() == 0
    # every unresolved member mention got a REFERS_TO or CALLS edge
    assert inf_edges.filter(F.col("pred") == "REFERS_TO").count() == 4
    assert inf_edges.filter(F.col("pred") == "CALLS").count() == 1


def test_known_record_not_inferred(spark):
    """A record declared ANYWHERE in the corpus suppresses inference —
    the reference checks the merged recordMap (VariableUsageResolver
    .java:415)."""
    src_decl = "struct T { int value; };\n"
    src_use = "int main() {\n    T node;\n    node.value = 1;\n}\n"
    g = CpgGraph(code_docs(spark, [("cpp/a/1", "code/cpp", src_decl),
                                   ("cpp/b/1", "code/cpp", src_use)]))
    inf_nodes, _ = infer_records(g.mentions, g.nodes, g.edges)
    assert inf_nodes.filter(F.col("label") == "RecordDeclaration").count() == 0
