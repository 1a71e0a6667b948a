"""LLVM-IR frontend (SURVEY F5) + CompressLLVMPass analogue (C5).

Fixture programs paraphrase the reference's LLVM test resources
(``cpg-language-llvm/src/test/resources/llvm/{br,phi,main,switch_case}.ll``)
— same instruction mix, asserted against the node/edge semantics the
reference's handler tests check (branch EOG, phi DFG fan-in, call linking,
goto targets).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.frontends.llvm_frontend import parse_llvm_document
from cpg_spark.operators.compress_llvm import compress_llvm
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

BR_LL = """
declare i32 @rand() nounwind

define i32 @main() {
  %x = call i32 @rand()
  %cond = icmp eq i32 %x, 10
  br i1 %cond, label %IfEqual, label %IfUnequal

IfEqual:
  ret i32 1

IfUnequal:
  %y = mul i32 %x, 32768
  ret i32 %y
}
"""

PHI_LL = """
declare i32 @rand() nounwind

define i32 @main() {
  %x = call i32 @rand()
  %cond = icmp eq i32 %x, 10
  br i1 %cond, label %A, label %B

A:
  %a = mul i32 %x, 32768
  br label %continue

B:
  %b = add i32 %x, 7
  br label %continue

continue:
  %y = phi i32 [ %a, %A ], [ %b, %B ]
  ret i32 %y
}
"""

GLOBAL_LL = """
@.str = private unnamed_addr constant [13 x i8] c"hello world\\0A\\00"
declare i32 @puts(i8* nocapture) nounwind

define i32 @main() {
  %cast210 = getelementptr [13 x i8], [13 x i8]* @.str, i64 0, i64 0
  call i32 @puts(i8* %cast210)
  ret i32 0
}
"""


def _labels(g):
    from collections import Counter
    return Counter(n["label"] for n in g.nodes)


def _preds(g):
    from collections import Counter
    return Counter(e["pred"] for e in g.edges)


def test_br_branch_structure():
    g = parse_llvm_document("ll/m/0001", 0, BR_LL)
    labs = _labels(g)
    assert labs["FunctionDeclaration"] == 2  # declare rand + define main
    assert labs["IfStatement"] == 1
    assert labs["GotoStatement"] == 2        # then/else gotos
    assert labs["LabelStatement"] == 2
    # conditional branch: EOG edges with branch=true/false to the labels
    branch_edges = [e for e in g.edges if e["pred"] == "EOG"
                    and e["props"].get("branch") in ("true", "false")]
    assert len(branch_edges) == 2
    # local call resolves to the declare'd rand (CALLS + no mention)
    assert _preds(g)["CALLS"] == 1
    assert g.mentions == []


def test_phi_dfg_fanin():
    g = parse_llvm_document("ll/m/0002", 0, PHI_LL)
    phi = [n for n in g.nodes if n["name"] == "phi"]
    assert len(phi) == 1
    fanin = [e for e in g.edges if e["pred"] == "DFG" and e["obj"] == phi[0]["node_id"]]
    assert len(fanin) == 2  # %a and %b both flow into the phi
    # SSA defs of a and b are VariableDeclarations visible to the phi refs
    refs = {e["subj"] for e in fanin}
    ref_targets = {e["obj"] for e in g.edges
                   if e["pred"] == "REFERS_TO" and e["subj"] in refs}
    decl_names = {n["name"] for n in g.nodes
                  if n["node_id"] in ref_targets}
    assert decl_names == {"a", "b"}


def test_global_and_unresolved_call_mention():
    src = GLOBAL_LL.replace("declare i32 @puts(i8* nocapture) nounwind\n", "")
    g = parse_llvm_document("ll/m/0003", 0, src)
    # @.str global declared and referenced
    assert any(n["label"] == "VariableDeclaration" and n["name"] == ".str"
               for n in g.nodes)
    # unresolved @puts -> cross-document call mention for the linker
    calls = [m for m in g.mentions if m["kind"] == "call"]
    assert [m["name"] for m in calls] == ["puts"]
    assert calls[0]["n_args"] == 1


def test_symbols_exported():
    g = parse_llvm_document("ll/m/0004", 0, BR_LL)
    syms = {(s["kind"], s["name"]) for s in g.symbols}
    assert ("function", "main") in syms and ("function", "rand") in syms


def test_problem_declaration_on_garbage():
    g = parse_llvm_document("ll/m/0005", 0, "define i32 @f( {\n  ???\n")
    assert [n["label"] for n in g.nodes] == ["ProblemDeclaration"]


def test_parse_docs_dispatch(spark):
    g = CpgGraph(code_docs(spark, [("ll/mod/0001", "code/llvm", PHI_LL)]))
    assert g.nodes.filter(
        F.col("label") == "ConditionalExpression").count() == 1
    assert g.edges.filter(F.col("pred") == "EOG").count() > 8


def test_compress_inlines_single_entry_labels(spark):
    """IfEqual/IfUnequal are single-entry: after compression the gotos are
    gone and the label blocks hang off the IfStatement (then/else), matching
    CompressLLVMPass.kt:67-92."""
    g = CpgGraph(code_docs(spark, [("ll/mod/0002", "code/llvm", BR_LL)]))
    n2, e2 = compress_llvm(g.nodes, g.edges)
    assert n2.filter(F.col("label") == "GotoStatement").count() == 0
    # then/else AST slots now hold CompoundStatements (the inlined blocks)
    if_children = (
        e2.filter((F.col("pred") == "AST")
                  & F.col("props").getItem("field").isin(
                      "thenStatement", "elseStatement"))
        .join(n2.select(F.col("node_id").alias("obj"),
                        F.col("label").alias("child_label")), "obj"))
    got = [r["child_label"] for r in if_children.collect()]
    assert got == ["CompoundStatement", "CompoundStatement"]
    # no dangling edges at dropped nodes
    ids = {r["node_id"] for r in n2.select("node_id").collect()}
    dangling = [r for r in e2.filter(F.col("pred") == "AST").collect()
                if r["subj"] not in ids or r["obj"] not in ids]
    assert dangling == []


def test_compress_keeps_multi_entry_labels(spark):
    """continue in the phi fixture has TWO incoming gotos -> must NOT be
    inlined (reference keeps multi-entry labels as join points)."""
    g = CpgGraph(code_docs(spark, [("ll/mod/0003", "code/llvm", PHI_LL)]))
    n2, e2 = compress_llvm(g.nodes, g.edges)
    remaining = [r["name"] for r in
                 n2.filter(F.col("label") == "GotoStatement")
                 .select("name").collect()]
    # the two branch gotos (A, B single-entry) inline; the two gotos INTO
    # continue stay (multi-entry)
    assert sorted(remaining) == ["continue", "continue"]
    labels = [r["name"] for r in
              n2.filter(F.col("label") == "LabelStatement").collect()]
    assert "continue" in labels
