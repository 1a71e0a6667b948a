"""CallResolverTest parity over the reference's own resolution fixtures
(cpg-core/src/test/resources/calls/{calls.cpp,Calls.java,External.java,
SuperClass.java}; CallResolverTest.java testCpp/testJava).

Asserted semantics, per the reference test:

* exact-signature overload selection across (), (int,int), (int,char*/
  String) for in-class, inherited, external-object and free-function
  targets (checkCalls);
* an (int,int,int) call site resolves to ONE inferred declaration
  (checkCalls inference leg);
* a member call on an unknown class creates NO inference and NO edge
  (ensureNoUnknownClassDummies);
* a method called from a free function resolves to the MethodDeclaration
  (ensureInvocationOfMethodsInFunction);
* a call to an overridden virtual resolves to BOTH the static target and
  the overriding method (testOverriding / reference issue #204), and the
  OVERRIDES edge links the pair.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.fixtures_cfamily import CPP_FIXTURES, JAVA_FIXTURES
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs


def _calls(spark, rows):
    """Every CALLS edge (frontend-local and linked) of the graph of
    ``rows`` as one dict per call site."""
    g = CpgGraph(code_docs(spark, rows))
    all_edges = g.edges.select("subj", "pred", "obj").unionByName(
        g.linked.select("subj", "pred", "obj"))
    nd = {r["node_id"]: r.asDict(recursive=True) for r in g.nodes.collect()}
    inf = {r["node_id"]: r.asDict(recursive=True)
           for r in g.inferred.collect()}
    men = {r["mention_id"]: r.asDict(recursive=True)
           for r in g.mentions.collect()}
    calls = []
    for r in all_edges.filter(F.col("pred") == "CALLS").collect():
        s = men.get(r["subj"]) or nd.get(r["subj"])
        o = nd.get(r["obj"]) or inf.get(r["obj"])
        if s is None or o is None:
            continue
        calls.append({
            "site": s["name"],
            "args": s.get("arg_types"),
            "target_line": (o["loc"] or {}).get("start_line")
            if o.get("loc") else None,
            "target_doc": o.get("doc_id"),
            "target_label": o["label"],
            "inferred": bool(o["is_inferred"]),
        })
    return calls


def _targets(calls, site, args=None):
    out = [c for c in calls if c["site"] == site]
    if args is not None:
        out = [c for c in out if (c["args"] or None) == (args or None)]
    return out


@pytest.fixture(scope="module")
def cpp_calls(spark):
    return _calls(spark, [("cpp/calls/0001", "code/cpp",
                           CPP_FIXTURES["calls"], 1)])


@pytest.fixture(scope="module")
def java_calls(spark):
    return _calls(spark, [(f"java/{n}/0001", "code/java", JAVA_FIXTURES[n], 1)
                          for n in ("Calls", "External", "SuperClass")])


def test_cpp_exact_signature_resolution(cpp_calls):
    # checkCalls: each known-signature call resolves to exactly one
    # NON-inferred target; the three overloads are on consecutive lines
    for site, lines in (("functionTarget", {1, 2, 3}),
                        ("innerTarget", {28, 29, 30}),
                        ("superTarget", {7, 8, 9}),
                        ("externalTarget", {15, 16, 17})):
        hits = [c for c in _targets(cpp_calls, site) if not c["inferred"]]
        assert {c["target_line"] for c in hits} == lines, (site, hits)


def test_cpp_inference_for_unknown_signature(cpp_calls):
    # the (int,int,int) leg: one inferred target per site name
    for site in ("functionTarget", "innerTarget", "superTarget",
                 "externalTarget"):
        inf = [c for c in _targets(cpp_calls, site) if c["inferred"]]
        assert len(inf) == 1, (site, inf)
        assert inf[0]["args"] == ["int", "int", "int"]


def test_cpp_no_unknown_class_dummies(cpp_calls):
    # ensureNoUnknownClassDummies: u.unknownTarget() -> empty invokes
    assert _targets(cpp_calls, "unknownTarget") == []


def test_cpp_method_invoked_from_function(cpp_calls):
    # ensureInvocationOfMethodsInFunction: inv.invoke() in free main()
    hits = _targets(cpp_calls, "invoke")
    assert len(hits) == 1 and hits[0]["target_label"] == "MethodDeclaration"


def test_cpp_override_dispatch(cpp_calls):
    # testOverriding: s->overridingTarget() invokes BOTH SuperClass::
    # overridingTarget (line 10, static type) and External's override
    # (line 18) — the reference keeps both in ``invokes`` (issue #204)
    lines = {c["target_line"] for c in _targets(cpp_calls,
                                                "overridingTarget")}
    assert lines == {10, 18}


def test_java_cross_document_resolution(java_calls):
    # same package (default), no imports: inherited + external targets
    # resolve across the three documents
    ext = [c for c in _targets(java_calls, "externalTarget")
           if not c["inferred"]]
    assert {c["target_doc"] for c in ext} == {"java/External/0001"}
    assert {c["target_line"] for c in ext} == {3, 4, 5}
    sup = [c for c in _targets(java_calls, "superTarget")
           if not c["inferred"]]
    assert {c["target_doc"] for c in sup} == {"java/SuperClass/0001"}
    # 3 via implicit this (Calls extends SuperClass) + 3 via e.
    assert len(sup) == 6 and {c["target_line"] for c in sup} == {2, 3, 4}


def test_java_inference_and_unknown_gate(java_calls):
    for site in ("innerTarget", "superTarget", "externalTarget"):
        inf = [c for c in _targets(java_calls, site) if c["inferred"]]
        assert len(inf) == 1 and inf[0]["args"] == ["int", "int", "int"]
    assert _targets(java_calls, "unknownTarget") == []


def test_java_override_dispatch(java_calls):
    hits = _targets(java_calls, "overridingTarget")
    assert {(c["target_doc"], c["target_line"]) for c in hits} == {
        ("java/SuperClass/0001", 6), ("java/External/0001", 8)}


# ---------------------------------------------------------------------------
# remaining CallResolverTest legs: partial defaults, defaults in methods,
# declaration-order-independent resolution
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def more_cpp(spark):
    return _calls(spark, [(f"cpp/{n}/0001", "code/cpp", CPP_FIXTURES[n], 1)
                          for n in ("partialDefaults", "defaultInMethod",
                                    "prio_defined", "prio_undefined")])


def test_partial_defaults(more_cpp):
    """testPartialDefaultArguments: add(int,int,int=3,int=4) — add() has
    too few args and resolves to ONE inferred target; add(1,2) and
    add(1,2,5,6) resolve to the real declaration."""
    hits = _targets(more_cpp, "add")
    real = [c for c in hits if not c["inferred"]
            and c["target_doc"] == "cpp/partialDefaults/0001"]
    inf = [c for c in hits if c["inferred"]]
    assert len(real) == 2          # add(1,2) and add(1,2,5,6)
    assert len(inf) == 1 and inf[0]["args"] in (None, [])


def test_defaults_in_method(more_cpp):
    """testDefaultArgumentsMethodResolution: demoClass.doSmth() resolves
    with both params defaulted; calc(x) resolves implicit-this with the
    second param defaulted."""
    do = [c for c in _targets(more_cpp, "doSmth")
          if c["target_doc"] == "cpp/defaultInMethod/0001"]
    assert len(do) == 1 and not do[0]["inferred"]
    calc = [c for c in _targets(more_cpp, "calc")
            if c["target_doc"] == "cpp/defaultInMethod/0001"]
    assert len(calc) == 1 and not calc[0]["inferred"]


def test_declaration_order_independent(more_cpp):
    """testScopedFunctionResolution{Defined,Undefined}: g(3) resolves to
    the g defined BEFORE main; f(3) resolves to the f defined AFTER main
    — resolution is a fixpoint over the whole document, not a forward
    scan."""
    for site, doc in (("g", "cpp/prio_defined/0001"),
                      ("f", "cpp/prio_undefined/0001")):
        hits = [c for c in _targets(more_cpp, site)
                if c["target_doc"] == doc]
        assert len(hits) == 1 and not hits[0]["inferred"], (site, hits)


def test_inherited_field_member_ref(spark):
    """VariableUsageResolver.java:375-407: a member ref on a subclass
    instance resolves to the FIELD declared on the ancestor record
    (c.shared with c: FChild resolves to FBase.shared across docs)."""
    g = CpgGraph(code_docs(spark, [
        ("java/FBase/0001", "code/java",
         "public class FBase {\n  public int shared = 1;\n}\n", 1),
        ("java/FChild/0001", "code/java",
         "public class FChild extends FBase {\n}\n", 1),
        ("java/FMain/0001", "code/java",
         "public class FMain {\n  public int go() {\n"
         "    FChild c = new FChild();\n    return c.shared;\n  }\n}\n", 1),
    ]))
    nd = {r["node_id"]: r.asDict(recursive=True) for r in g.nodes.collect()}
    men = {r["mention_id"]: r.asDict(recursive=True)
           for r in g.mentions.collect()}
    hits = []
    for r in g.linked.filter(F.col("pred") == "REFERS_TO").collect():
        s, o = men.get(r["subj"]), nd.get(r["obj"])
        if s and s["name"] == "shared":
            hits.append(o)
    assert len(hits) == 1, hits
    assert hits[0]["label"] == "FieldDeclaration"
    assert hits[0]["doc_id"] == "java/FBase/0001"
    # and no inferred field was fabricated for the hit
    assert not hits[0]["is_inferred"]


@pytest.fixture(scope="module")
def super_calls(spark):
    """SuperCallTest corpus: SubClass + SuperClass + the two interfaces,
    one document each (reference superCalls/ resources)."""
    return _calls(spark, [
        ("java/SubClass/0001", "code/java", JAVA_FIXTURES["SubClass"], 1),
        ("java/SCSuper/0001", "code/java", JAVA_FIXTURES["SC_SuperClass"], 1),
        ("java/Interface1/0001", "code/java", JAVA_FIXTURES["Interface1"], 1),
        ("java/Interface2/0001", "code/java", JAVA_FIXTURES["Interface2"], 1)])


def test_super_calls_bind_supertype_method(super_calls):
    """SuperCallTest: super.target() and SubClass.super.target() invoke
    SuperClass.target ONLY (never dispatch back to the override);
    InterfaceN.super.target() invokes that interface's default method."""
    hits = _targets(super_calls, "target")
    by_doc = {}
    for c in hits:
        by_doc.setdefault(c["target_doc"], 0)
        by_doc[c["target_doc"]] += 1
    # two plain-super + the inner-class qualified super -> SuperClass;
    # one each to the interfaces; NONE to SubClass's own override
    assert by_doc == {"java/SCSuper/0001": 2,
                      "java/Interface1/0001": 1,
                      "java/Interface2/0001": 1}, hits
    assert all(not c["inferred"] for c in hits)


def test_super_field_ref(spark, super_calls):
    """super.field in getSuperField resolves to SuperClass.field."""
    g = CpgGraph(code_docs(spark, [
        ("java/SubClass/0001", "code/java", JAVA_FIXTURES["SubClass"], 1),
        ("java/SCSuper/0001", "code/java",
         JAVA_FIXTURES["SC_SuperClass"], 1)]))
    nd = {r["node_id"]: r.asDict(recursive=True) for r in g.nodes.collect()}
    men = {r["mention_id"]: r.asDict(recursive=True)
           for r in g.mentions.collect()}
    hits = [nd.get(r["obj"]) for r in
            g.linked.filter(F.col("pred") == "REFERS_TO").collect()
            if men.get(r["subj"], {}).get("name") == "field"
            and men.get(r["subj"], {}).get("kind") == "member_ref"]
    hits = [h for h in hits if h]
    assert len(hits) == 1
    assert hits[0]["label"] == "FieldDeclaration"
    assert hits[0]["doc_id"] == "java/SCSuper/0001"


def test_inferred_id_same_on_both_mint_paths(spark):
    """VERDICT r1 item 7: frontend-side (Python ids.inferred_id) and
    link-side (Spark _inferred_id_col) ids for the same logical inferred
    symbol must be byte-identical, so both paths collapse to one node at
    materialize regardless of which stage minted it first."""
    from cpg_spark.ids import inferred_id
    from cpg_spark.operators.link import _inferred_id_col

    cases = [("FunctionDeclaration", "helper", "2", ""),
             ("FieldDeclaration", "attr", "", "pkg.Base"),
             ("FunctionDeclaration", "do_it", "0", "")]
    df = spark.createDataFrame(
        [(n, s, c) for _, n, s, c in cases], "name string, sig string, cont string"
    ).select(
        _inferred_id_col("FunctionDeclaration", F.col("name"),
                         F.col("sig"), F.col("cont")).alias("fn_id"),
        _inferred_id_col("FieldDeclaration", F.col("name"),
                         F.col("sig"), F.col("cont")).alias("fld_id"),
        "name", "sig", "cont")
    got = {(r["name"], r["sig"], r["cont"]):
           {"FunctionDeclaration": r["fn_id"], "FieldDeclaration": r["fld_id"]}
           for r in df.collect()}
    for kind, name, sig, cont in cases:
        assert got[(name, sig, cont)][kind] == inferred_id(
            kind, name, signature=sig, container=cont)


def test_fix328_super_field_write_binds_inherited_field(spark):
    """fix-328: `super.myField = 2` in Cat's constructor binds Animal's
    protected field across documents (same package `my`) — the package
    clause must root the scope path so same-package symbols are visible
    (JavaLanguageFrontendTest fix-328 leg)."""
    cat = ("package my;\n\npublic class Cat extends Animal implements "
           "OtherBehavior {\n\n    public Cat() {\n        super.myField = 2;"
           "\n    }\n}\n")
    animal = ("package my;\n\npublic abstract class Animal implements "
              "Behavior<T> {\n\n    protected int myField;\n\n}\n")
    g = CpgGraph(code_docs(spark, [("java/Cat/0001", "code/java", cat),
                                   ("java/Animal/0001", "code/java", animal)]))
    n = g.nodes.select("node_id", "label", "name", "doc_id")
    hits = (
        g.linked.filter(F.col("pred") == "REFERS_TO")
        .join(n.withColumnRenamed("node_id", "subj")
              .withColumnRenamed("name", "sname")
              .withColumnRenamed("label", "slab")
              .withColumnRenamed("doc_id", "sdoc"), "subj")
        .join(n.withColumnRenamed("node_id", "obj")
              .withColumnRenamed("name", "oname")
              .withColumnRenamed("label", "olab")
              .withColumnRenamed("doc_id", "odoc"), "obj")
        .filter(F.col("sname") == "myField")
        .select("olab", "odoc").collect()
    )
    assert [(r["olab"], r["odoc"]) for r in hits] == [
        ("FieldDeclaration", "java/Animal/0001")]
