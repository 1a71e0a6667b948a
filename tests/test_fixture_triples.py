"""Triple-extraction P/R gate vs reference fixture semantics
(BASELINE.json: P >= 0.95 and R >= 0.95 per predicate class).

Expected facts are hand-derived from the reference tests' assertions
(PythonFrontendTest.kt:52-195, GoLanguageFrontendTest.kt) and the
reference frontend semantics (CPGPython/_statements.py, _expressions.py;
cpg-language-go handler.go), as FIXTURES.md §2-§3 prescribes.  Node ids
are content hashes, so facts are matched structurally:

    (doc_id, pred, subj_label, subj_name, obj_label, obj_name)

CALLS and REFERS_TO sets are COMPLETE per fixture (distinct-tuple
semantics) -> both precision and recall are measured.  EVAL_TYPE /
FIELDS / SUPER_TYPE expectations are recall-only spot checks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# complete expected CALLS / REFERS_TO facts (set semantics) per fixture doc
# ---------------------------------------------------------------------------

REF = "DeclaredReferenceExpression"
MEM = "MemberExpression"
CALL = "CallExpression"
MCALL = "MemberCallExpression"
FN = "FunctionDeclaration"
METH = "MethodDeclaration"
VAR = "VariableDeclaration"
PARAM = "ParamVariableDeclaration"
FIELD = "FieldDeclaration"

EXPECTED_CALLS = {
    # python (PythonFrontendTest.kt)
    ("py/class_ctor/0001", MCALL, "foobar", METH, "foobar"),
    ("py/class_self/0001", MCALL, "bar", METH, "bar"),
    ("py/function/0001", CALL, "bar", FN, "bar"),
    ("py/function/0001", CALL, "print", FN, "print"),      # inferred
    ("py/issue432/0001", CALL, "count", FN, "count"),
    ("py/issue432/0001", MCALL, "inc", METH, "inc"),
    ("py/issue598/0001", CALL, "prepare", FN, "prepare"),  # inferred
    ("py/issue598/0001", CALL, "genCpg", FN, "genCpg"),
    ("py/issue598/0001", CALL, "exportToJson", FN, "exportToJson"),
    ("py/issue598/0001", CALL, "print", FN, "print"),
    ("py/issue615/0001", CALL, "print", FN, "print"),
    ("py/issue615/0001", MCALL, "format", FN, "format"),   # inferred
    ("py/multi_level_mem_call/0001", MCALL, "zzz", FN, "zzz"),  # inferred
    ("py/simple_class/0001", MCALL, "someFunc", METH, "someFunc"),
    # go (GoLanguageFrontendTest.kt)
    ("go/function/0001", CALL, "myTest", FN, "myTest"),
    ("go/function/0001", MCALL, "Printf", FN, "Printf"),   # inferred
    ("go/call/0001", CALL, "NewMyStruct", FN, "NewMyStruct"),  # cross-doc
    ("go/call/0001", MCALL, "myOtherFunc", METH, "myOtherFunc"),  # cross-doc
    ("go/struct/0001", MCALL, "myOtherFunc", METH, "myOtherFunc"),
    ("go/struct/0001", MCALL, "Printf", FN, "Printf"),
    ("go/for/0001", CALL, "do", FN, "do"),                 # inferred
    ("go/switch/0001", CALL, "first", FN, "first"),
    ("go/switch/0001", CALL, "second", FN, "second"),
    ("go/switch/0001", CALL, "third", FN, "third"),
}

EXPECTED_REFERS = {
    # python
    ("py/class_ctor/0001", REF, "foo", VAR, "foo"),
    ("py/class_fields/0001", MEM, "z", FIELD, "z"),
    ("py/class_fields/0001", REF, "self", VAR, "self"),
    ("py/class_self/0001", REF, "i", PARAM, "i"),
    ("py/class_self/0001", REF, "self", VAR, "self"),
    ("py/function/0001", REF, "s", PARAM, "s"),
    ("py/if/0001", REF, "sel", VAR, "sel"),
    ("py/issue432/0001", REF, "c", PARAM, "c"),
    ("py/issue432/0001", REF, "self", VAR, "self"),
    ("py/issue432/0001", MEM, "total", FIELD, "total"),
    ("py/issue473/0001", REF, "z", VAR, "z"),
    ("py/issue473/0001", REF, "phr", VAR, "phr"),
    ("py/issue598/0001", REF, "x", VAR, "x"),
    ("py/issue615/0001", REF, "test", VAR, "test"),
    ("py/simple_class/0001", REF, "c1", VAR, "c1"),
    ("py/simple_class/0001", REF, "self", VAR, "self"),
    ("py/vars/0001", REF, "classFieldNoInitializer", FIELD,
     "classFieldNoInitializer"),
    ("py/vars/0001", REF, "classFieldWithInit", FIELD, "classFieldWithInit"),
    ("py/vars/0001", REF, "classFieldDeclaredInFunction", FIELD,
     "classFieldDeclaredInFunction"),
    ("py/vars/0001", MEM, "classFieldNoInitializer", FIELD,
     "classFieldNoInitializer"),
    ("py/vars/0001", MEM, "classFieldWithInit", FIELD, "classFieldWithInit"),
    ("py/vars/0001", REF, "self", VAR, "self"),
    # go
    ("go/function/0001", REF, "s", PARAM, "s"),
    ("go/function/0001", REF, "err", VAR, "err"),
    ("go/call/0001", REF, "c", VAR, "c"),
    ("go/struct/0001", REF, "s", VAR, "s"),
    ("go/struct/0001", MEM, "MyField", FIELD, "MyField"),
    ("go/if/0001", REF, "b", VAR, "b"),
    ("go/for/0001", REF, "i", VAR, "i"),
    ("go/switch/0001", REF, "i", PARAM, "i"),
    ("go/ref/0001", REF, "service", VAR, "service"),
    ("go/field/0001", REF, "r", VAR, "r"),
    ("go/field/0001", MEM, "Field", FIELD, "Field"),
    ("go/comment/0001", REF, "a", VAR, "a"),
}

# Facts the round-5 full-fidelity python frontend adds BEYOND reference
# parity (documented upgrades of reference gaps; the parity-mode P/R
# gates above exclude them by construction).  issue615's
# `for t1, t2, t3 in test:` tuple target declares real variables whose
# later reads resolve — the reference left them unresolved.
FIDELITY_EXTRA_REFERS = {
    ("py/issue615/0001", REF, "t1", VAR, "t1"),
    ("py/issue615/0001", REF, "t2", VAR, "t2"),
    ("py/issue615/0001", REF, "t3", VAR, "t3"),
}

# recall-only spot checks
EXPECTED_EVAL_TYPE = {
    # PythonFrontendTest.kt:74-104 literal types
    ("py/literal/0001", VAR, "b", "Type", "bool"),
    ("py/literal/0001", VAR, "i", "Type", "int"),
    ("py/literal/0001", VAR, "f", "Type", "float"),
    ("py/literal/0001", VAR, "t", "Type", "str"),
    ("py/literal/0001", VAR, "n", "Type", "None"),
    ("py/function/0001", PARAM, "s", "Type", "str"),
    # go literal.go consts
    ("go/literal/0001", VAR, "a", "Type", "int"),
    ("go/literal/0001", VAR, "s", "Type", "string"),
    ("go/literal/0001", VAR, "f", "Type", "float64"),
    ("go/literal/0001", VAR, "f32", "Type", "float32"),
}

EXPECTED_STRUCTURE = {
    ("py/class_fields/0001", "FIELDS", "RecordDeclaration", "Foo", FIELD, "y"),
    ("py/class_fields/0001", "FIELDS", "RecordDeclaration", "Foo", FIELD, "baz"),
    ("py/class_self/0001", "FIELDS", "RecordDeclaration", "Foo", FIELD,
     "somevar"),
    ("py/issue432/0001", "FIELDS", "RecordDeclaration", "c1", FIELD, "total"),
    ("py/issue432/0001", "SUPER_TYPE", "RecordDeclaration", "c1", "Type",
     "counter"),
    ("go/struct/0001", "FIELDS", "RecordDeclaration", "MyStruct", FIELD,
     "MyField"),
    ("go/field/0001", "FIELDS", "RecordDeclaration", "Receiver", FIELD,
     "Field"),
}


@pytest.fixture(scope="module")
def fact_sets(spark):
    from cpg_spark.operators.link import link_combined, split_linked
    from cpg_spark.operators.parse import parse_docs, split_parse_output
    from cpg_spark.synth import fixture_docs

    # parity mode: the P/R expectations are hand-derived from the
    # reference's own emitted facts, which include its gap matrix
    raw = parse_docs(fixture_docs(spark), py_parity=True).persist()
    nodes, edges, mentions, symbols = split_parse_output(raw)
    combined, _ = link_combined(mentions, symbols, nodes, edges)
    linked, inferred = split_linked(combined)
    all_nodes = nodes.unionByName(inferred).dropDuplicates(["node_id"])
    all_edges = edges.select("subj", "pred", "obj", "doc_id").unionByName(
        linked.select("subj", "pred", "obj", "doc_id")
    )
    joined = (
        all_edges.join(
            all_nodes.select(F.col("node_id").alias("subj"),
                             F.col("label").alias("s_label"),
                             F.col("name").alias("s_name")), "subj")
        .join(
            all_nodes.select(F.col("node_id").alias("obj"),
                             F.col("label").alias("o_label"),
                             F.col("name").alias("o_name")), "obj")
        .select("doc_id", "pred", "s_label", "s_name", "o_label", "o_name")
        .distinct()
        .collect()
    )
    out: dict[str, set] = {}
    for r in joined:
        out.setdefault(r["pred"], set()).add(
            (r["doc_id"], r["s_label"], r["s_name"], r["o_label"], r["o_name"])
        )
    raw.unpersist()
    return out


def _pr(emitted: set, expected: set):
    tp = len(emitted & expected)
    precision = tp / len(emitted) if emitted else 1.0
    recall = tp / len(expected) if expected else 1.0
    return precision, recall, emitted - expected, expected - emitted


def test_calls_precision_recall(fact_sets):
    emitted = fact_sets.get("CALLS", set())
    p, r, extra, missing = _pr(emitted, EXPECTED_CALLS)
    assert p >= 0.95, f"CALLS precision {p:.3f}; spurious: {sorted(extra)[:8]}"
    assert r >= 0.95, f"CALLS recall {r:.3f}; missing: {sorted(missing)[:8]}"


def test_refers_to_precision_recall(fact_sets):
    emitted = fact_sets.get("REFERS_TO", set())
    p, r, extra, missing = _pr(emitted, EXPECTED_REFERS)
    assert p >= 0.95, f"REFERS_TO precision {p:.3f}; spurious: {sorted(extra)[:8]}"
    assert r >= 0.95, f"REFERS_TO recall {r:.3f}; missing: {sorted(missing)[:8]}"


def test_eval_type_recall(fact_sets):
    emitted = fact_sets.get("EVAL_TYPE", set())
    missing = {e for e in EXPECTED_EVAL_TYPE
               if (e[0], e[1], e[2], e[3], e[4]) not in emitted}
    assert not missing, f"EVAL_TYPE missing: {sorted(missing)}"


def test_structure_recall(fact_sets):
    for doc, pred, sl, sn, ol, on in EXPECTED_STRUCTURE:
        emitted = fact_sets.get(pred, set())
        assert (doc, sl, sn, ol, on) in emitted, (pred, doc, sn, on)


def test_keyword_argument_name_prop(spark):
    """PythonFrontendTest.kt:141-143: bar(..., s2="another_string") — the
    ARGUMENTS edge at index 1 carries props name='s2'."""
    from cpg_spark.operators.parse import parse_docs, split_parse_output
    from cpg_spark.synth import fixture_docs

    raw = parse_docs(fixture_docs(spark, langs=("python",)),
                     py_parity=True).persist()
    nodes, edges, _, _ = split_parse_output(raw)
    args = (
        edges.filter(F.col("pred") == "ARGUMENTS")
        .filter(F.col("doc_id") == "py/function/0001")
        .join(nodes.select(F.col("node_id").alias("subj"),
                           F.col("name").alias("call_name")), "subj")
        .filter(F.col("call_name") == "bar")
        .select(F.col("props").getItem("index").alias("idx"),
                F.col("props").getItem("name").alias("kw"))
        .collect()
    )
    by_idx = {r["idx"]: r["kw"] for r in args}
    assert by_idx.get("0") is None          # positional
    assert by_idx.get("1") == "s2"          # keyword NAME property
    raw.unpersist()


def test_bad_span_order_fails_parse(spark):
    """The span-sequence invariant is enforced inside the parse UDF."""
    import pytest as _pytest

    from cpg_spark.operators.parse import parse_docs
    from cpg_spark.schemas import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [{"doc_id": "bad",
          "spans": [
              {"kind": "code/python", "text": "a = 1", "media_ref": None,
               "offset": 2},
              {"kind": "code/python", "text": "b = 2", "media_ref": None,
               "offset": 1},
          ]}],
        schema=DOCS_SCHEMA,
    )
    with _pytest.raises(Exception, match="span-sequence invariant"):
        parse_docs(docs).count()


def test_dfg_spot_checks(fact_sets):
    """DFG kernels: literal -> variable (VariableDeclaration.java:118),
    arg -> param (Util.java:321-342), value -> return."""
    dfg = fact_sets.get("DFG", set())
    assert ("py/literal/0001", "Literal", "42", VAR, "i") in dfg
    assert ("py/function/0001", "Literal", "some string", PARAM, "s") in dfg
    assert ("go/function/0001", "Literal", "some string", PARAM, "s") in dfg
    # binop operands flow into the operator
    assert ("py/function/0001", "Literal", "1", "BinaryOperator", "+") in dfg
    assert ("go/function/0001", "Literal", "1", "BinaryOperator", "+") in dfg
