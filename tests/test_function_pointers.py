"""FunctionPointerTest parity over the reference's own fixtures
(cpg-core/src/test/resources/functionPointers/{func_ptr.c,func_ptr.cpp};
FunctionPointerTest.java testC/testCPP).

Asserted semantics, per the reference test:

* a fnptr declarator's ``&target`` initializer binds the overload whose
  signature matches the POINTER's parameter list (no_param -> target(),
  single_param -> target(int)), for plain pointers, pointers assigned
  later, C++ pointer-to-member locals and record FIELDS;
* every call through the pointer — ``(*p)()``, bare ``p()``,
  ``(a.*p)()``, ``(a.*a.field)()`` — invokes exactly that function;
* pointers to an UNKNOWN function (``&fun``) yield ONE inferred
  FunctionDeclaration per signature (fun/0, fun/1), shared by every
  call site that reaches it (assertEquals(List.of(noParamUnknown), ...)
  + isInferred);
* the backward DFG from each *_unused* variable reaches exactly one
  FunctionDeclaration (getSourceFunction).
"""

from __future__ import annotations

from collections import defaultdict, deque

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators.link import link_combined
from cpg_spark.operators.parse import parse_docs, split_parse_output
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

FUNC_PTR_C = r"""
void target() {}
void target(int param) {}

int main() {
  void (*no_param)() = &target;
  void (*single_param)(int) = &target;
  void (*no_param_unused)() = &target;
  void (*single_param_unused)(int) = &target;
  void (*no_param_unknown)() = &fun;
  void (*single_param_unknown)(int) = &fun;

  void (*no_param_uninitialized) ();
  void (*single_param_uninitialized) (int);
  void (*no_param_unused_uninitialized) ();
  void (*single_param_unused_uninitialized) (int);
  void (*no_param_unknown_uninitialized) ();
  void (*single_param_unknown_uninitialized) (int);

  no_param_uninitialized = &target;
  single_param_uninitialized = &target;
  no_param_unused_uninitialized = &target;
  single_param_unused_uninitialized = &target;
  no_param_unknown_uninitialized = &fun;
  single_param_unknown_uninitialized = &fun;

  // normal pointers
  (*no_param)();
  (*single_param)(42);
  (*no_param_unknown)();
  (*no_param_unknown)();
  (*single_param_unknown)(42);
  (*single_param_unknown)(43);

  // normal pointers but initialized later on
  (*no_param_uninitialized)();
  (*single_param_uninitialized)(42);
  (*no_param_unknown_uninitialized)();
  (*no_param_unknown_uninitialized)();
  (*single_param_unknown_uninitialized)(42);
  (*single_param_unknown_uninitialized)(43);

  // calls without dedicated function pointer syntax
  no_param();
  single_param(42);
  no_param_unknown();
  no_param_unknown();
  single_param_unknown(42);
  single_param_unknown(43);
  no_param_uninitialized();
  single_param_uninitialized(42);
  no_param_unknown_uninitialized();
  no_param_unknown_uninitialized();
  single_param_unknown_uninitialized(42);
  single_param_unknown_uninitialized(43);
}
"""

FUNC_PTR_CPP = r"""
class A {
  public:
    void target() {}
    void target(int param) {}
    void (A::* no_param_field) () = &A::target;
    void (A::* single_param_field) (int) = &A::target;
    void (A::* no_param_unused_field) () = &A::target;
    void (A::* single_param_unused_field) (int) = &A::target;
    void (A::* no_param_unknown_field) () = &A::fun;
    void (A::* single_param_unknown_field) (int) = &A::fun;

    void (A::* no_param_field_uninitialized) ();
    void (A::* single_param_field_uninitialized) (int);
    void (A::* no_param_unused_field_uninitialized) ();
    void (A::* single_param_unused_field_uninitialized) (int);
    void (A::* no_param_unknown_field_uninitialized) ();
    void (A::* single_param_unknown_field_uninitialized) (int);
};

int main() {
  A a;

  void (A::* no_param) () = &A::target;
  void (A::* single_param) (int) = &A::target;
  void (A::* no_param_unused) () = &A::target;
  void (A::* single_param_unused) (int) = &A::target;
  void (A::* no_param_unknown) () = &A::fun;
  void (A::* single_param_unknown) (int) = &A::fun;

  void (A::* no_param_uninitialized) ();
  void (A::* single_param_uninitialized) (int);
  void (A::* no_param_unused_uninitialized) ();
  void (A::* single_param_unused_uninitialized) (int);
  void (A::* no_param_unknown_uninitialized) ();
  void (A::* single_param_unknown_uninitialized) (int);

  no_param_uninitialized = &A::target;
  single_param_uninitialized = &A::target;
  no_param_unused_uninitialized = &A::target;
  single_param_unused_uninitialized = &A::target;
  no_param_unknown_uninitialized = &A::fun;
  single_param_unknown_uninitialized = &A::fun;

  a.no_param_field_uninitialized = &A::target;
  a.single_param_field_uninitialized = &A::target;
  a.no_param_unused_field_uninitialized = &A::target;
  a.single_param_unused_field_uninitialized = &A::target;
  a.no_param_unknown_field_uninitialized = &A::fun;
  a.single_param_unknown_field_uninitialized = &A::fun;

  // normal pointers
  (a.*no_param)();
  (a.*single_param)(42);
  (a.*no_param_unknown)();
  (a.*no_param_unknown)();
  (a.*single_param_unknown)(42);
  (a.*single_param_unknown)(43);

  // normal pointers but initialized later on
  (a.*no_param_uninitialized)();
  (a.*single_param_uninitialized)(42);
  (a.*no_param_unknown_uninitialized)();
  (a.*no_param_unknown_uninitialized)();
  (a.*single_param_unknown_uninitialized)(42);
  (a.*single_param_unknown_uninitialized)(43);

  // pointers stored as fields
  (a.*a.no_param_field)();
  (a.*a.single_param_field)(42);
  (a.*a.no_param_unknown_field)();
  (a.*a.no_param_unknown_field)();
  (a.*a.single_param_unknown_field)(42);
  (a.*a.single_param_unknown_field)(43);

  // pointers stored as fields but initialized later on
  (a.*a.no_param_field_uninitialized)();
  (a.*a.single_param_field_uninitialized)(42);
  (a.*a.no_param_unknown_field_uninitialized)();
  (a.*a.no_param_unknown_field_uninitialized)();
  (a.*a.single_param_unknown_field_uninitialized)(42);
  (a.*a.single_param_unknown_field_uninitialized)(43);
}
"""


def _analyze(spark, doc_id, src):
    g = CpgGraph(code_docs(spark, [(doc_id, "code/cpp", src, 1)]))
    node_rows = {r["node_id"]: r.asDict(recursive=True)
                 for r in g.nodes.collect()}
    for r in g.inferred.collect():
        node_rows[r["node_id"]] = r.asDict(recursive=True)
    men = {r["mention_id"]: r.asDict(recursive=True)
           for r in g.mentions.collect()}
    edge_rows = [r.asDict() for r in g.edges.select(
        "subj", "pred", "obj").collect()]
    edge_rows += [r.asDict() for r in g.linked.select(
        "subj", "pred", "obj").collect()]
    return node_rows, edge_rows, men


def _n_params(node_rows, edge_rows, fn_id):
    n = node_rows.get(fn_id, {})
    if n.get("is_inferred"):
        # inferred declarations carry arity in props (the reference's
        # inferred FunctionDeclaration gets synthetic parameters)
        return int((n.get("props") or {}).get("arity", "0"))
    return sum(1 for e in edge_rows
               if e["pred"] == "PARAMETERS" and e["subj"] == fn_id
               and node_rows.get(e["obj"], {}).get("label")
               == "ParamVariableDeclaration")


def _call_targets(node_rows, edge_rows, men):
    """site name -> list of (target name, n_params, is_inferred, id)."""
    out = defaultdict(list)
    for e in edge_rows:
        if e["pred"] != "CALLS":
            continue
        site = men.get(e["subj"]) or node_rows.get(e["subj"])
        tgt = node_rows.get(e["obj"])
        if site is None or tgt is None:
            continue
        out[site["name"]].append(
            (tgt["name"], _n_params(node_rows, edge_rows, e["obj"]),
             bool(tgt.get("is_inferred")), e["obj"]))
    return out


# the reference's switch over call names -> the one expected target
EXPECT = {
    "no_param": ("target", 0, False),
    "no_param_uninitialized": ("target", 0, False),
    "single_param": ("target", 1, False),
    "single_param_uninitialized": ("target", 1, False),
    "no_param_unknown": ("fun", 0, True),
    "no_param_unknown_uninitialized": ("fun", 0, True),
    "single_param_unknown": ("fun", 1, True),
    "single_param_unknown_uninitialized": ("fun", 1, True),
    # cpp-only field-stored pointers
    "no_param_field": ("target", 0, False),
    "no_param_field_uninitialized": ("target", 0, False),
    "single_param_field": ("target", 1, False),
    "single_param_field_uninitialized": ("target", 1, False),
    "no_param_unknown_field": ("fun", 0, True),
    "no_param_unknown_field_uninitialized": ("fun", 0, True),
    "single_param_unknown_field": ("fun", 1, True),
    "single_param_unknown_field_uninitialized": ("fun", 1, True),
}


def _check_calls(node_rows, edge_rows, men, sites):
    targets = _call_targets(node_rows, edge_rows, men)
    inferred_ids = defaultdict(set)
    for site in sites:
        want = EXPECT[site]
        got = targets.get(site)
        assert got, f"call site {site} resolved nothing"
        uniq = {(t[0], t[1], t[2]) for t in got}
        assert uniq == {want}, f"{site}: {sorted(uniq)} != {want}"
        for t in got:
            if t[2]:
                inferred_ids[(t[0], t[1])].add(t[3])
    # one inferred node per (name, arity), shared across every site
    # (assertEquals(List.of(noParamUnknown), call.getInvokes()))
    for key, ids in inferred_ids.items():
        assert len(ids) == 1, f"inferred {key} minted {len(ids)} nodes"


def _source_functions(node_rows, edge_rows, var_id):
    """Backward-DFG function set from a variable (getSourceFunction)."""
    preds = defaultdict(list)
    for e in edge_rows:
        if e["pred"] == "DFG":
            preds[e["obj"]].append(e["subj"])
    seen, fns = set(), set()
    q = deque([var_id])
    while q:
        cur = q.popleft()
        if cur in seen:
            continue
        seen.add(cur)
        lbl = node_rows.get(cur, {}).get("label")
        if lbl in ("FunctionDeclaration", "MethodDeclaration"):
            fns.add(cur)
            continue
        q.extend(preds.get(cur, ()))
    return fns


def _check_unused(node_rows, edge_rows, want_params_by_suffix):
    vars_ = [n for n in node_rows.values()
             if n["label"] in ("VariableDeclaration", "FieldDeclaration")
             and n["name"] and "_unused" in n["name"]
             and "unknown" not in n["name"]]
    assert vars_, "no unused fnptr variables found"
    for v in vars_:
        fns = _source_functions(node_rows, edge_rows, v["node_id"])
        assert len(fns) == 1, f"{v['name']}: {len(fns)} source functions"
        fn = fns.pop()
        want = 1 if v["name"].startswith("single_param") else 0
        assert _n_params(node_rows, edge_rows, fn) == want, v["name"]
        assert node_rows[fn]["name"] == "target"


C_SITES = [s for s in EXPECT if "field" not in s]
CPP_SITES = list(EXPECT)


def test_c(spark):
    node_rows, edge_rows, men = _analyze(spark, "c/fnptr/0001", FUNC_PTR_C)
    _check_calls(node_rows, edge_rows, men, C_SITES)
    _check_unused(node_rows, edge_rows, None)


def test_cpp(spark):
    node_rows, edge_rows, men = _analyze(spark, "cpp/fnptr/0001",
                                         FUNC_PTR_CPP)
    _check_calls(node_rows, edge_rows, men, CPP_SITES)
    _check_unused(node_rows, edge_rows, None)


def test_walk_is_materialized_inside_link(spark):
    """The backward-DFG walk runs once, inside ``link_combined``: the
    returned plan only reads its materialized output.  A lazy walk would
    leave its Python group stage in the plan, where each of its four
    consumers re-runs it (no exchange is reused above the checkpointed
    miss set it reads)."""
    docs = code_docs(spark, [("c/fnptr/0001", "code/cpp", FUNC_PTR_C, 1)])
    raw = parse_docs(docs).persist()
    nodes, edges, mentions, symbols = split_parse_output(raw)
    combined, _ = link_combined(mentions, symbols, nodes, edges)
    plan = combined._jdf.queryExecution().executedPlan().toString()
    raw.unpersist()
    assert "FlatMapGroupsInArrow" not in plan
