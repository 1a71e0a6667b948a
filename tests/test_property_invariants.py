"""Property-based structural invariants over randomly generated programs
(hypothesis).  The reference asserts hand-picked facts per fixture; these
properties must hold for EVERY parse — they pin the contracts the
distributed stages rely on:

* referential integrity: every edge endpoint is an emitted node id
  (linking joins and the triple view would otherwise dangle);
* determinism: two parses of the same source emit identical row sets
  (content-hash ids are the resume/idempotency contract);
* EOG shape: edges stay within one document, and every EOG source/target
  is a node of that document;
* span-order: node ids differ across doc ids even for identical text
  (ids include doc_id), while Type node ids are SHARED (canonical).

Pure-python (frontends run in-process) — no Spark session, so the whole
property sweep costs seconds.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from cpg_spark.frontends.python_frontend import parse_python_document

_names = st.sampled_from(["a", "b", "c", "x", "y", "total", "n"])
_ints = st.integers(min_value=0, max_value=99)


@st.composite
def _stmt(draw, depth=0):
    kind = draw(st.sampled_from(
        ["assign", "aug", "call", "ret", "if", "while"]
        if depth < 2 else ["assign", "aug", "call", "ret"]))
    n = draw(_names)
    v = draw(_ints)
    if kind == "assign":
        rhs = draw(st.sampled_from(
            [str(v), f"{n} + {v}", f"{draw(_names)} * 2", f"f({v})"]))
        return [f"{n} = {rhs}"]
    if kind == "aug":
        return [f"{n} += {v}"]
    if kind == "call":
        return [f"f({n})"]
    if kind == "ret":
        return [f"return {n}"]
    body = draw(st.lists(_stmt(depth=depth + 1), min_size=1, max_size=2))
    flat = [ln for stmt in body for ln in stmt]
    head = (f"if {n} < {v}:" if kind == "if" else f"while {n} < {v}:")
    out = [head] + ["    " + ln for ln in flat]
    if kind == "if" and draw(st.booleans()):
        out += ["else:", f"    {n} = {v}"]
    return out


@st.composite
def _program(draw):
    stmts = draw(st.lists(_stmt(), min_size=1, max_size=4))
    body = [ln for stmt in stmts for ln in stmt]
    lines = ["def f(a):"] + ["    " + ln for ln in body]
    if draw(st.booleans()):
        lines += ["def g(x):", "    return f(x)"]
    lines += ["y = f(1)"]
    return "\n".join(lines) + "\n"


def _parse(src, doc="py/prop/0001"):
    return parse_python_document(doc, 0, src, "prop")


@settings(max_examples=60, deadline=None)
@given(_program())
def test_referential_integrity_and_determinism(src):
    g = _parse(src)
    ids = {n["node_id"] for n in g.nodes}
    assert len(ids) == len(g.nodes), "node id collision within one doc"
    for e in g.edges:
        assert e["subj"] in ids, (e, "dangling subj")
        assert e["obj"] in ids, (e, "dangling obj")
    for m in g.mentions:
        assert m["mention_id"] in ids
    for s in g.symbols:
        assert s["decl_id"] in ids
    # determinism: identical re-parse
    g2 = _parse(src)
    key = lambda rows: sorted(map(repr, rows))  # noqa: E731
    assert key(g.nodes) == key(g2.nodes)
    assert key(g.edges) == key(g2.edges)


@settings(max_examples=30, deadline=None)
@given(_program())
def test_ids_doc_scoped_but_types_shared(src):
    g1 = _parse(src, "py/propA/0001")
    g2 = _parse(src, "py/propB/0001")
    t1 = {n["node_id"] for n in g1.nodes if n["label"] == "Type"}
    t2 = {n["node_id"] for n in g2.nodes if n["label"] == "Type"}
    assert t1 == t2, "canonical Type ids must not depend on doc_id"
    o1 = {n["node_id"] for n in g1.nodes if n["label"] != "Type"}
    o2 = {n["node_id"] for n in g2.nodes if n["label"] != "Type"}
    assert not (o1 & o2), "non-Type ids must be doc-scoped"


@settings(max_examples=30, deadline=None)
@given(_program())
def test_eog_terminates_at_exit_or_return(src):
    """Every function body's EOG walk terminates properly: either the
    fall-through path reaches the exit sentinel (the FunctionDeclaration
    node) or a ReturnStatement ends it — returns are EOG dead-ends, the
    reference's exitPoints collection."""
    g = _parse(src)
    fns = {n["node_id"] for n in g.nodes
           if n["label"] == "FunctionDeclaration" and n["name"] == "f"}
    assert fns
    eog_in = {e["obj"] for e in g.edges if e["pred"] == "EOG"}
    returns = {n["node_id"] for n in g.nodes
               if n["label"] == "ReturnStatement"}
    assert (fns & eog_in) or (returns & eog_in), (
        "EOG neither reaches the exit sentinel nor any return")


def _fixture_sets():
    from cpg_spark.fixtures_cfamily import CPP_FIXTURES, JAVA_FIXTURES
    from cpg_spark.fixtures_go import GO_FIXTURES
    from cpg_spark.fixtures_py import PY_FIXTURES
    from cpg_spark.fixtures_templates import TEMPLATE_FIXTURES
    from cpg_spark.fixtures_varres import VARRES_FIXTURES
    from cpg_spark.sources import modern_fixtures as mf

    varres_java = {k: v for k, v in VARRES_FIXTURES.items()
                   if k.endswith("_java")}
    varres_cpp = {k: v for k, v in VARRES_FIXTURES.items()
                  if k not in varres_java}
    return {
        "PY": ("code/python", PY_FIXTURES),
        "GO": ("code/go", GO_FIXTURES),
        "JAVA": ("code/java", JAVA_FIXTURES),
        "CPP": ("code/cpp", CPP_FIXTURES),
        "VARRES_java": ("code/java", varres_java),
        "VARRES_cpp": ("code/cpp", varres_cpp),
        "TEMPLATE": ("code/cpp", TEMPLATE_FIXTURES),
        "MODERN_CPP": ("code/cpp", mf.MODERN_CPP),
        "MODERN_JAVA": ("code/java", mf.MODERN_JAVA),
        "MODERN_GO": ("code/go", mf.MODERN_GO),
        "MODERN_TS": ("code/typescript", mf.MODERN_TS),
        "MODERN_PS": ("code/powershell", mf.MODERN_PS),
        "MODERN_PY": ("code/python", mf.MODERN_PY),
    }


@pytest.mark.parametrize("name", sorted(_fixture_sets()))
def test_fixture_ids_unique_and_edges_closed(name):
    """The id invariants hold for every fixture of every frontend, not
    only for generated Python: node ids are unique per parse and every
    edge endpoint is an emitted node (a TS destructured parameter once
    minted one id for all its names, and materialize silently kept
    one)."""
    from cpg_spark.frontends import FRONTENDS

    kind, fixtures = _fixture_sets()[name]
    assert fixtures
    for fx, src in sorted(fixtures.items()):
        g = FRONTENDS[kind](f"fx/{fx}/0001", 0, src)
        assert not g.id_faults(), (fx, g.id_faults()[:5])
