"""C-family overload-resolution subset vs the reference's
CallResolverTest.java:248-460 expectations over the embedded
calls/{defaultargs,implicitcast} fixtures: arity with default arguments,
implicit numeric casts, ambiguous calls keeping every candidate, and
prototype+definition both receiving invokes edges."""

from __future__ import annotations

from cpg_spark.fixtures_cfamily import CPP_FIXTURES
from cpg_spark.frontends.cfamily_frontend import parse_cpp_document


def _graph(name):
    return parse_cpp_document(f"cpp/{name}/0001", 0, CPP_FIXTURES[name], None)


def _calls_by_site(g):
    nodes = {n["node_id"]: n for n in g.nodes}
    out = {}
    for e in g.edges:
        if e["pred"] != "CALLS":
            continue
        site = nodes[e["subj"]]
        out.setdefault(site["node_id"], []).append(nodes[e["obj"]])
    return nodes, out


def test_default_in_declaration():
    """display() / display(1) / display(10.0) / display(count,'$') all
    resolve; each call invokes BOTH the prototype and the definition
    (CallResolverTest:317-330 expects 2 invokes per call)."""
    g = _graph("defaultInDeclaration")
    nodes, calls = _calls_by_site(g)
    sites = [nid for nid, n in nodes.items()
             if n["label"] == "CallExpression" and n["name"] == "display"]
    assert len(sites) == 4
    for s in sites:
        assert len(calls.get(s, [])) == 2, nodes[s]
        assert all(not c["is_inferred"] for c in calls[s])
    # no display call fell through to an inferred node or mention
    assert not [m for m in g.mentions if m["name"] == "display"]


def test_default_in_definition():
    g = _graph("defaultInDefinition")
    nodes, calls = _calls_by_site(g)
    sites = [nid for nid, n in nodes.items()
             if n["label"] == "CallExpression" and n["name"] == "display"]
    assert len(sites) == 3
    for s in sites:
        assert len(calls.get(s, [])) == 1
    assert not [m for m in g.mentions if m["name"] == "display"]


def test_implicit_cast_resolves():
    """multiply(10.0) resolves to multiply(int) via double->int implicit
    cast (CallResolverTest:253-266), not to an inferred node."""
    g = _graph("implicitcast")
    nodes, calls = _calls_by_site(g)
    sites = [nid for nid, n in nodes.items()
             if n["label"] == "CallExpression" and n["name"] == "multiply"]
    assert len(sites) == 1
    tgt = calls[sites[0]]
    assert len(tgt) == 1 and not tgt[0]["is_inferred"]


def test_ambiguous_call_keeps_both():
    """ambiguous_multiply(10.0) against (int) and (float) candidates keeps
    BOTH invokes edges (CallResolverTest:268-287)."""
    g = _graph("ambiguouscall")
    nodes, calls = _calls_by_site(g)
    sites = [nid for nid, n in nodes.items()
             if n["label"] == "CallExpression"
             and n["name"] == "ambiguous_multiply"]
    assert len(sites) == 1
    assert len(calls[sites[0]]) == 2


def test_exact_match_beats_cast():
    """An exact-type candidate wins over a castable one instead of tying."""
    src = ("int f(int v) { return v; }\n"
           "int f(double v) { return 1; }\n"
           "int main() { int z = f(2.5); return 0; }\n")
    g = parse_cpp_document("cpp/exact/0001", 0, src, None)
    nodes, calls = _calls_by_site(g)
    sites = [nid for nid, n in nodes.items()
             if n["label"] == "CallExpression" and n["name"] == "f"]
    assert len(sites) == 1
    tgts = calls[sites[0]]
    assert len(tgts) == 1  # double literal -> f(double) exactly


def test_wrong_arity_becomes_mention():
    src = ("int g(int a, int b) { return a; }\n"
           "int main() { int z = g(1, 2, 3); return 0; }\n")
    g = parse_cpp_document("cpp/arity/0001", 0, src, None)
    nodes, calls = _calls_by_site(g)
    assert not calls  # no local candidate is viable
    assert [m for m in g.mentions if m["name"] == "g"]


def test_variadic_accepts_extra_args():
    src = ("int h(int a, ...) { return a; }\n"
           "int main() { int z = h(1, 2, 3); return 0; }\n")
    g = parse_cpp_document("cpp/variadic/0001", 0, src, None)
    nodes, calls = _calls_by_site(g)
    sites = [nid for nid, n in nodes.items()
             if n["label"] == "CallExpression" and n["name"] == "h"]
    assert len(sites) == 1 and len(calls[sites[0]]) == 1


def test_crossdoc_overload_link(spark):
    """Cross-document overload resolution through the link stage: the
    caller doc has no local candidate, the defining doc (same module)
    carries two overloads — the exact-type one must win."""
    from pyspark.sql import functions as F

    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.synth import code_docs

    defs = ("int scale(int v) { return v; }\n"
            "int scale(float v) { return 1; }\n")
    use = ("int use() { int q = scale(2.5f); int r = scale(3); return q; }\n")
    g = CpgGraph(code_docs(spark, [("cpp/scalemod/0001", "code/cpp", defs),
                                   ("cpp/scalemod/0002", "code/cpp", use)]))
    got = (
        g.linked.filter(F.col("pred") == "CALLS")
        .join(g.mentions.select(F.col("mention_id").alias("subj"),
                                F.col("arg_types")), "subj")
        .join(g.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("param_types")), "obj")
        .select("arg_types", "param_types").collect()
    )
    res = {tuple(r["arg_types"]): tuple(r["param_types"]) for r in got}
    assert res[("float",)] == ("float",)   # exact beats int-cast
    assert res[("int",)] == ("int",)
    assert g.inferred.count() == 0


def test_crossdoc_wrong_arity_inferred(spark):
    """A cross-document call whose arity no candidate accepts must fall
    through to an inferred node (CallResolver miss path), not bind to a
    wrong-arity declaration."""
    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.synth import code_docs

    defs = "int only2(int a, int b) { return a; }\n"
    use = "int use() { return only2(1, 2, 3); }\n"
    g = CpgGraph(code_docs(spark, [("cpp/aritymod/0001", "code/cpp", defs),
                                   ("cpp/aritymod/0002", "code/cpp", use)]))
    inf = {r["name"] for r in g.inferred.select("name").collect()}
    assert inf == {"only2"}
