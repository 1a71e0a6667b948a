"""Go frontend parity tests — facts mirrored from the reference's
GoLanguageFrontendTest.kt over the golang/*.go fixtures (FIXTURES.md §3)."""

from __future__ import annotations

import pytest

from cpg_spark.fixtures_go import GO_FIXTURES
from cpg_spark.frontends.go_frontend import parse_go_document


def _graph(name):
    return parse_go_document(f"go/{name}/0001", 1, GO_FIXTURES[name], None)


def _index(g):
    nodes = {n["node_id"]: n for n in g.nodes}
    edges = {}
    for e in g.edges:
        edges.setdefault(e["pred"], []).append(e)
    return nodes, edges


def _named(nodes, label, name):
    return [n for n in nodes.values() if n["label"] == label and n["name"] == name]


def test_all_fixtures_parse_clean():
    for name in GO_FIXTURES:
        g = _graph(name)
        problems = [n for n in g.nodes if n["label"] == "ProblemDeclaration"]
        assert not problems, (name, problems)
        assert g.nodes


def test_function_go_facts():
    """GoLanguageFrontendTest.testFunctionDeclaration: myTest called from
    main, param s resolved, a := 1 + 2, named result err assigned."""
    g = _graph("function")
    nodes, edges = _index(g)
    (main,) = _named(nodes, "FunctionDeclaration", "main")
    (mytest,) = _named(nodes, "FunctionDeclaration", "myTest")
    # call -> CALLS -> declaration
    calls = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["CALLS"]]
    assert any(c[0]["name"] == "myTest" and c[1]["node_id"] == mytest["node_id"]
               for c in calls)
    # ref s REFERS_TO param s
    (param_s,) = _named(nodes, "ParamVariableDeclaration", "s")
    refs = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["REFERS_TO"]]
    assert any(r[0]["name"] == "s" and r[1]["node_id"] == param_s["node_id"]
               for r in refs)
    # a := 1 + 2 -> VariableDeclaration a with '+' initializer
    (var_a,) = _named(nodes, "VariableDeclaration", "a")
    init = [nodes[e["obj"]] for e in edges["AST"]
            if e["subj"] == var_a["node_id"] and e["props"].get("field") == "INITIALIZER"]
    assert init and init[0]["label"] == "BinaryOperator" and init[0]["name"] == "+"
    # arg "some string" -> DFG -> param s (Util.java:321-342)
    dfg_pairs = [(nodes.get(e["subj"], {}).get("name"),
                  nodes.get(e["obj"], {}).get("name")) for e in edges["DFG"]]
    assert ("some string", "s") in dfg_pairs
    # fmt.Printf survives as a cross-doc member_call mention with base fmt
    assert any(m["kind"] == "member_call" and m["name"] == "Printf"
               and m["base_type"] == "fmt" for m in g.mentions)


def test_struct_go_facts():
    """testStruct: MyStruct record with MyField, MyFunc method on receiver,
    interface MyInterface with method signature."""
    g = _graph("struct")
    nodes, edges = _index(g)
    (rec,) = _named(nodes, "RecordDeclaration", "MyStruct")
    assert rec["props"]["kind"] == "struct"
    (field,) = _named(nodes, "FieldDeclaration", "MyField")
    fields = [e for e in edges["FIELDS"] if e["subj"] == rec["node_id"]]
    assert any(e["obj"] == field["node_id"] for e in fields)
    # int type on the field
    assert any(e["subj"] == field["node_id"] for e in edges["EVAL_TYPE"])
    (iface,) = _named(nodes, "RecordDeclaration", "MyInterface")
    assert iface["props"]["kind"] == "interface"
    # s.MyField member access resolves to the field (receiver-typed base)
    refs = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["REFERS_TO"]]
    assert any(r[0]["label"] == "MemberExpression" and r[0]["name"] == "MyField"
               and r[1]["node_id"] == field["node_id"] for r in refs)
    # s.myOtherFunc() resolves to the method declared on MyStruct
    methods = _named(nodes, "MethodDeclaration", "myOtherFunc")
    assert methods
    calls = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["CALLS"]]
    assert any(c[0]["name"] == "myOtherFunc"
               and c[1]["node_id"] == methods[0]["node_id"] for c in calls)


def test_field_go_method_before_type():
    """field.go declares the method before the Receiver type: pending
    method attachment + member write resolution must still work."""
    g = _graph("field")
    nodes, edges = _index(g)
    (rec,) = _named(nodes, "RecordDeclaration", "Receiver")
    (field,) = _named(nodes, "FieldDeclaration", "Field")
    # r.Field = ... -> MemberExpression REFERS_TO Field with write DFG
    refs = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["REFERS_TO"]]
    assert any(r[0]["name"] == "Field" and r[1]["node_id"] == field["node_id"]
               for r in refs)
    dfg = [(e["subj"], e["obj"]) for e in edges["DFG"]]
    member = [n for n in nodes.values()
              if n["label"] == "MemberExpression" and n["name"] == "Field"]
    assert any((m["node_id"], field["node_id"]) in dfg for m in member)
    # otherPackage.OtherField is a cross-doc member mention
    assert any(m["name"] == "OtherField" and m["base_type"] == "otherPackage"
               for m in g.mentions)


def test_if_go_eog_branches():
    g = _graph("if")
    nodes, edges = _index(g)
    branches = {e["props"].get("branch") for e in edges["EOG"]}
    assert "true" in branches and "false" in branches
    (var_b,) = _named(nodes, "VariableDeclaration", "b")
    # bool type inferred from `var b bool = true`
    tnodes = [nodes[e["obj"]] for e in edges["EVAL_TYPE"]
              if e["subj"] == var_b["node_id"]]
    assert tnodes and tnodes[0]["name"] == "bool"


def test_for_go_loop_shape():
    g = _graph("for")
    nodes, edges = _index(g)
    assert _named(nodes, "ForStatement", "")
    # i < 5 condition, i++ unary
    assert _named(nodes, "UnaryOperator", "++")
    binops = _named(nodes, "BinaryOperator", "<")
    assert binops
    # loop back-edge: the condition node has >1 incoming EOG edge
    cond = binops[0]["node_id"]
    incoming = [e for e in edges["EOG"] if e["obj"] == cond]
    assert len(incoming) >= 2
    # `do()` is an unresolved call mention
    assert any(m["kind"] == "call" and m["name"] == "do" for m in g.mentions)


def test_switch_go_cases():
    g = _graph("switch")
    nodes, edges = _index(g)
    assert _named(nodes, "SwitchStatement", "")
    cases = [n for n in nodes.values() if n["label"] == "CaseStatement"]
    assert len(cases) == 3
    for fn in ("first", "second", "third"):
        assert any(m["kind"] == "call" and m["name"] == fn for m in g.mentions)


def test_literal_go_consts():
    g = _graph("literal")
    nodes, edges = _index(g)
    for name, tname in [("a", "int"), ("s", "string"), ("f", "float64"),
                        ("f32", "float32")]:
        (v,) = _named(nodes, "VariableDeclaration", name)
        tnodes = [nodes[e["obj"]] for e in edges["EVAL_TYPE"]
                  if e["subj"] == v["node_id"]]
        assert tnodes and tnodes[0]["name"] == tname, (name, tnodes)


def test_construct_go_new_and_make():
    g = _graph("construct")
    nodes, edges = _index(g)
    news = [n for n in nodes.values() if n["label"] == "NewExpression"]
    assert news and news[0]["name"] == "MyStruct"
    (rec,) = _named(nodes, "RecordDeclaration", "MyStruct")
    inst = [e for e in g.edges if e["pred"] == "INSTANTIATES"]
    assert any(e["subj"] == news[0]["node_id"] and e["obj"] == rec["node_id"]
               for e in inst)
    makes = _named(nodes, "CallExpression", "make")
    assert len(makes) == 3


def test_ref_go_composite_literal():
    """ref.go: service = &auth.Service{Name: "MyName"} — ConstructExpression
    under a unary &, keyed initializer."""
    g = _graph("ref")
    nodes, edges = _index(g)
    cons = [n for n in nodes.values() if n["label"] == "ConstructExpression"]
    assert any(c["name"] == "auth.Service" for c in cons)
    kvs = [n for n in nodes.values() if n["label"] == "KeyValueExpression"]
    assert any(k["name"] == "Name" for k in kvs)
    amps = _named(nodes, "UnaryOperator", "&")
    assert amps


def test_cross_doc_call_and_construct(spark):
    """call.go calls NewMyStruct()/myOtherFunc() defined in struct.go —
    same package p, different documents: the linking join must connect
    them (reference runs them as one module)."""
    from pyspark.sql import functions as F

    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.synth import fixture_docs

    g = CpgGraph(fixture_docs(spark, langs=("go",)))
    nodes = g.nodes
    resolved = (
        g.linked.filter(F.col("pred") == "CALLS")
        .join(nodes.select(F.col("node_id").alias("obj"),
                           F.col("name").alias("callee"),
                           F.col("doc_id").alias("callee_doc")), "obj")
        .join(nodes.select(F.col("node_id").alias("subj"),
                           F.col("doc_id").alias("caller_doc")), "subj")
        .select("callee", "caller_doc", "callee_doc")
        .collect()
    )
    cross = {(r["callee"], r["caller_doc"], r["callee_doc"]) for r in resolved}
    assert ("NewMyStruct", "go/call/0001", "go/struct/0001") in cross
    assert ("myOtherFunc", "go/call/0001", "go/struct/0001") in cross


def test_labeled_break_continue():
    """Go labeled jumps (go/ast BranchStmt.Label): `continue outer`
    returns to the OUTER for's condition, `break outer` exits both
    loops straight to the return."""
    from cpg_spark.frontends.go_frontend import parse_go_document

    src = (
        "package main\n\nfunc f() int {\n\ttotal := 0\nouter:\n"
        "\tfor i := 0; i < 10; i++ {\n\t\tfor j := 0; j < 10; j++ {\n"
        "\t\t\tif j > 5 {\n\t\t\t\tcontinue outer\n\t\t\t}\n"
        "\t\t\tif i > 8 {\n\t\t\t\tbreak outer\n\t\t\t}\n"
        "\t\t\ttotal += j\n\t\t}\n\t}\n\treturn total\n}\n"
    )
    g = parse_go_document("go/labeled/0001", 0, src, "main")
    nodes = {n["node_id"]: n for n in g.nodes}
    eog = {}
    for e in g.edges:
        if e["pred"] == "EOG":
            eog.setdefault(e["subj"], []).append(e["obj"])
    brk = next(n for n in g.nodes if n["label"] == "BreakStatement")
    ret = next(n for n in g.nodes if n["label"] == "ReturnStatement")
    assert ret["node_id"] in eog[brk["node_id"]], "break outer must exit both loops"
    cont = next(n for n in g.nodes if n["label"] == "ContinueStatement")
    (tgt,) = eog[cont["node_id"]]
    # the target is the OUTER loop's condition: the outer post `i++`
    # (line 6) also flows into it
    preds = {s for s, ts in eog.items() if tgt in ts}
    pred_lines = {(nodes[p]["label"], (nodes[p]["loc"] or {}).get("start_line"))
                  for p in preds}
    assert ("UnaryOperator", 6) in pred_lines
    lab = next(n for n in g.nodes if n["label"] == "LabelStatement")
    assert lab["name"] == "outer"


def test_go_panic_mode_recovery():
    """One bad construct yields one located ProblemDeclaration; later
    declarations survive (C-family _guard_top contract)."""
    from cpg_spark.frontends.go_frontend import parse_go_document

    src = ("package m\n\nfunc good1() int { return 1 }\n\n"
           "func broken( %%% ) int { return 2 }\n\n"
           "func good2() int { return 3 }\n")
    g = parse_go_document("r.go", 0, src)
    fns = {n["name"] for n in g.nodes
           if n["label"] == "FunctionDeclaration"}
    assert {"good1", "good2"} <= fns
    assert sum(1 for n in g.nodes
               if n["label"] == "ProblemDeclaration") == 1
