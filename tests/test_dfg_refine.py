"""Control-flow-sensitive DFG refinement scenarios — mirrors the
reference's dfg test resources (ControlFlowSensitiveDFGIfMerge.java,
...IfNoMerge.java, LoopDFGs.java; oracle semantics from
ControlFlowSensitiveDFGPass.java:62-517), expressed as python fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.dfg_refine import apply_refinement, refine_dfg_delta
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

IF_MERGE = """\
def f(x):
    a = 1
    if x:
        a = 2
    else:
        a = 3
    print(a)
"""

IF_NO_MERGE = """\
def f(x):
    a = 1
    if x:
        a = 2
        print(a)
"""

LOOP = """\
def f(n):
    s = 0
    while n:
        print(s)
        s = 1
    print(s)
"""


def _facts(spark, src):
    g = CpgGraph(code_docs(spark, [("py/refine/0001", "code/python", src)]))
    nodes, edges = g.nodes, g.edges
    delta = refine_dfg_delta(nodes, edges)
    refined = apply_refinement(
        edges, delta.filter(F.col("action") == "add").drop("action"),
        delta.filter(F.col("action") == "remove").drop("action"))
    named = (
        refined.filter(F.col("pred") == "DFG")
        .join(nodes.select(F.col("node_id").alias("subj"),
                           F.col("label").alias("s_label"),
                           F.col("name").alias("s_name"),
                           F.col("loc.start_line").alias("s_line")), "subj")
        .join(nodes.select(F.col("node_id").alias("obj"),
                           F.col("label").alias("o_label"),
                           F.col("name").alias("o_name"),
                           F.col("loc.start_line").alias("o_line")), "obj")
        .select("s_label", "s_name", "s_line", "o_label", "o_name", "o_line",
                "props")
        .collect()
    )
    return named


def test_if_merge_both_branch_defs_reach(spark):
    """print(a) after if/else that writes a in both branches: direct edges
    from BOTH branch writes, coarse decl->ref removed (IfMerge)."""
    dfg = _facts(spark, IF_MERGE)
    # the read of `a` at line 7 (print arg)
    into_read = [r for r in dfg if r["o_name"] == "a" and r["o_line"] == 7
                 and r["o_label"] == "DeclaredReferenceExpression"]
    srcs = {(r["s_label"], r["s_line"]) for r in into_read}
    assert ("DeclaredReferenceExpression", 4) in srcs  # a = 2 write-ref
    assert ("DeclaredReferenceExpression", 6) in srcs  # a = 3 write-ref
    # the initializer def (a = 1 declaration) must NOT reach the read
    assert not any(r["s_label"] == "VariableDeclaration" for r in into_read)


def test_if_no_merge_keeps_initializer_path(spark):
    """Write only in the then-branch: the read inside the branch sees only
    that write (IfNoMerge semantics)."""
    dfg = _facts(spark, IF_NO_MERGE)
    into_read = [r for r in dfg if r["o_name"] == "a" and r["o_line"] == 5]
    srcs = {(r["s_label"], r["s_line"]) for r in into_read}
    assert ("DeclaredReferenceExpression", 4) in srcs
    assert not any(r["s_label"] == "VariableDeclaration" for r in into_read)


def _java_refined_sources(fixture_name: str, var: str):
    """Refined DFG sources into every read-ref of ``var``, computed with
    the pure-python kernel (same code the cogroup UDF runs) over the
    embedded reference fixture — keyed by the ref's line."""
    from cpg_spark.fixtures_cfamily import JAVA_FIXTURES
    from cpg_spark.frontends.cfamily_frontend import parse_java_document
    from cpg_spark.operators.dfg_refine import _refine_doc

    doc = f"java/{fixture_name}/0001"
    g = parse_java_document(doc, 1, JAVA_FIXTURES[fixture_name], None)
    labels = {n["node_id"]: n["label"] for n in g.nodes}
    lines = {n["node_id"]: (n["loc"] or {}).get("start_line")
             for n in g.nodes}
    names = {n["node_id"]: n["name"] for n in g.nodes}
    edges = [{"subj": e["subj"], "pred": e["pred"], "obj": e["obj"]}
             for e in g.edges]
    delta = _refine_doc(doc, labels, edges)
    base = {(e["subj"], e["obj"]) for e in edges if e["pred"] == "DFG"}
    adds = {(d["subj"], d["obj"]) for d in delta if d["action"] == "add"}
    rem = {(d["subj"], d["obj"]) for d in delta if d["action"] == "remove"}
    out: dict[int, set] = {}
    for s, o in (base | adds) - rem:
        if names.get(o) == var and \
                labels.get(o) == "DeclaredReferenceExpression":
            out.setdefault(lines[o], set()).add((labels[s], lines[s]))
    return out


def test_switch_fallthrough_refined():
    """DFGTest.testControlSensitiveDFGPassSwitch over the reference's
    ControlFlowSensitiveDFGSwitch.java: the fall-through println(a) sees
    {0, 12}; `int b = a` sees all four defs {0, 10, 11, 12}."""
    res = _java_refined_sources("ControlFlowSensitiveDFGSwitch", "a")
    # println(a) in the default case (line 16): initializer path (direct
    # sel -> default) + case-3 fall-through write a = 12 (line 14)
    assert res[16] == {("VariableDeclaration", 4),
                       ("DeclaredReferenceExpression", 14)}
    # int b = a (line 20): every case write + the initializer
    assert res[20] == {("VariableDeclaration", 4),
                       ("DeclaredReferenceExpression", 8),
                       ("DeclaredReferenceExpression", 11),
                       ("DeclaredReferenceExpression", 14)}


def test_delayed_assignment_after_rhs():
    """DFGTest.testDelayedAssignment: in `a = a + b` the rhs read of `a`
    keeps the PRE-assignment def (the initializer literal 0) — the write
    is delayed until the assignment completes
    (ControlFlowSensitiveDFGPass.java:326-360)."""
    res = _java_refined_sources("DelayedAssignmentAfterRHS", "a")
    srcs = res[7]
    # initializer path present, and NO def from the same statement's
    # write-ref (that would mean the write was applied before the read)
    assert ("VariableDeclaration", 4) in srcs
    assert not any(lbl == "DeclaredReferenceExpression" for lbl, _ in srcs)


def test_labeled_break_continue_loop_dfgs():
    """DFGTest.testSensitivityThroughLoop + testSensitivityWithLabels over
    the reference's LoopDFGs.java: labeled continue/break route flow to
    the labeled loop, and the a=4 write after both jump branches is
    unreachable everywhere."""
    res = _java_refined_sources("LoopDFGs", "a")
    # looping(): println(a) line 9 sees 0 (decl@4), 1 (ref@7), 2 (ref@10),
    # NOT 3 (ref@13, set after the loop)
    assert res[9] == {("VariableDeclaration", 4),
                      ("DeclaredReferenceExpression", 7),
                      ("DeclaredReferenceExpression", 10)}
    # labeledBreakContinue(): both in-loop printlns (lines 24, 30) see
    # {0, 1, 3}; a=2 (line 25) escapes via `break lab1`, a=4 (line 28) is
    # unreachable
    expected_inner = {("VariableDeclaration", 17),
                      ("DeclaredReferenceExpression", 21),
                      ("DeclaredReferenceExpression", 31)}
    assert res[24] == expected_inner
    assert res[30] == expected_inner
    # the println after the outer loop (line 33) additionally sees the
    # break-path write a=2 (line 25); still not the unreachable a=4
    assert res[33] == expected_inner | {("DeclaredReferenceExpression", 25)}


def test_loop_back_edge_defs(spark):
    """LoopDFGs: the read inside the loop sees the initializer AND the
    loop-carried write; the read after the loop sees both too."""
    dfg = _facts(spark, LOOP)
    inside = [r for r in dfg if r["o_name"] == "s" and r["o_line"] == 4]
    srcs_inside = {(r["s_label"], r["s_line"]) for r in inside}
    # loop-carried write s = 1 (line 5) reaches the line-4 read via the
    # back edge
    assert ("DeclaredReferenceExpression", 5) in srcs_inside
    # initializer path: decl-mediated edge retained (s = 0 first iteration)
    assert ("VariableDeclaration", 2) in srcs_inside
    after = [r for r in dfg if r["o_name"] == "s" and r["o_line"] == 6]
    srcs_after = {(r["s_label"], r["s_line"]) for r in after}
    assert ("DeclaredReferenceExpression", 5) in srcs_after
    assert ("VariableDeclaration", 2) in srcs_after
