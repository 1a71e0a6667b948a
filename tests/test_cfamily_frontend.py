"""Java/C++ frontend parity tests — facts mirrored from the reference's
enhancement tests (VariableResolverTest, DFGTest) over the embedded
cpg-core test resources (FIXTURES.md §4)."""

from __future__ import annotations

import pytest

from cpg_spark.fixtures_cfamily import CPP_FIXTURES, JAVA_FIXTURES
from cpg_spark.frontends.cfamily_frontend import (
    parse_cpp_document,
    parse_java_document,
)


def _graph(lang, name):
    if lang == "java":
        return parse_java_document(f"java/{name}/0001", 1,
                                   JAVA_FIXTURES[name], None)
    return parse_cpp_document(f"cpp/{name}/0001", 1, CPP_FIXTURES[name], None)


def _index(g):
    nodes = {n["node_id"]: n for n in g.nodes}
    edges = {}
    for e in g.edges:
        edges.setdefault(e["pred"], []).append(e)
    return nodes, edges


def _named(nodes, label, name):
    return [n for n in nodes.values()
            if n["label"] == label and n["name"] == name]


def test_all_fixtures_parse_clean():
    for name in JAVA_FIXTURES:
        g = _graph("java", name)
        assert not [n for n in g.nodes if n["label"] == "ProblemDeclaration"], name
    for name in CPP_FIXTURES:
        g = _graph("cpp", name)
        assert not [n for n in g.nodes if n["label"] == "ProblemDeclaration"], name


def test_variables_java_shadowing():
    """VariableResolverTest semantics: getField -> field, getLocal ->
    local, getShadow -> shadowing LOCAL, noShadow this.field -> FIELD."""
    g = _graph("java", "Variables")
    nodes, edges = _index(g)
    refs = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["REFERS_TO"]]

    def ref_at(line):
        return [(s, o) for s, o in refs
                if (s["loc"] or {}).get("start_line") == line]

    # line 5: return field -> the FieldDeclaration (line 2)
    (s, o), = ref_at(5)
    assert o["label"] == "FieldDeclaration" and o["name"] == "field"
    # line 15: return field inside getShadow -> the LOCAL (line 14)
    (s, o), = ref_at(15)
    assert o["label"] == "VariableDeclaration"
    assert (o["loc"] or {}).get("start_line") == 14
    # line 20: this.field -> the FieldDeclaration
    members = [(s, o) for s, o in refs if s["label"] == "MemberExpression"]
    assert any(o["label"] == "FieldDeclaration" and o["name"] == "field"
               for _, o in members)


def test_compound_operator_cpp_dfg():
    """DFGTest compoundOperator semantics (BinaryOperator.java:96-108):
    `i += 2` — i-ref and literal flow INTO the operator, operator flows
    back into the i-ref."""
    g = _graph("cpp", "compoundoperator")
    nodes, edges = _index(g)
    (op,) = _named(nodes, "BinaryOperator", "+=")
    dfg = {(e["subj"], e["obj"]) for e in edges["DFG"]}
    i_refs = [n for n in _named(nodes, "DeclaredReferenceExpression", "i")]
    assert len(i_refs) == 1
    iref = i_refs[0]["node_id"]
    lit2 = _named(nodes, "Literal", "2")[0]["node_id"]
    assert (iref, op["node_id"]) in dfg
    assert (lit2, op["node_id"]) in dfg
    assert (op["node_id"], iref) in dfg


def test_unary_operator_cpp_readwrite():
    """UnaryOperator.java:69-97: `i++` is READWRITE — both directions."""
    g = _graph("cpp", "unaryoperator")
    nodes, edges = _index(g)
    (op,) = _named(nodes, "UnaryOperator", "++")
    iref = _named(nodes, "DeclaredReferenceExpression", "i")[0]["node_id"]
    dfg = {(e["subj"], e["obj"]) for e in edges["DFG"]}
    assert (iref, op["node_id"]) in dfg
    assert (op["node_id"], iref) in dfg


def test_conditional_expression_cpp():
    """ConditionalExpression.java:73-89: both branches flow into the
    ternary expression node."""
    g = _graph("cpp", "conditional_expression")
    nodes, edges = _index(g)
    conds = [n for n in nodes.values()
             if n["label"] == "ConditionalExpression"]
    assert conds
    dfg = {(e["subj"], e["obj"]) for e in edges["DFG"]}
    cid = conds[0]["node_id"]
    incoming = [s for s, o in dfg if o == cid]
    assert len(incoming) >= 2


def test_if_merge_java_facts():
    g = _graph("java", "ControlFlowSensitiveDFGIfMerge")
    nodes, edges = _index(g)
    # a = 2 write-ref resolves to the declaration of a
    (var_a,) = _named(nodes, "VariableDeclaration", "a")
    refs = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["REFERS_TO"]]
    a_refs = [(s, o) for s, o in refs if s["name"] == "a"]
    assert a_refs and all(o["node_id"] == var_a["node_id"] for _, o in a_refs)
    # System.out.println -> member-call mention (cross-doc inferred later)
    assert any(m["kind"] == "member_call" and m["name"] == "println"
               for m in g.mentions)
    # branch EOG present
    branches = {e["props"].get("branch") for e in edges["EOG"]}
    assert "true" in branches and "false" in branches


def test_scope_variables_cpp_calls():
    """printLog(...) calls resolve to the free function; this->varName to
    the field; loop-local varName shadows the field."""
    g = _graph("cpp", "scope_variables")
    nodes, edges = _index(g)
    (fn,) = _named(nodes, "FunctionDeclaration", "printLog")
    calls = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["CALLS"]]
    plog = [(s, o) for s, o in calls if s["name"] == "printLog"]
    assert len(plog) >= 5
    assert all(o["node_id"] == fn["node_id"] for _, o in plog)
    # this->varName member ref -> the instance field
    field = _named(nodes, "FieldDeclaration", "varName")
    assert field
    refs = [(nodes[e["subj"]], nodes[e["obj"]]) for e in edges["REFERS_TO"]]
    assert any(s["label"] == "MemberExpression" and s["name"] == "varName"
               and o["node_id"] == field[0]["node_id"] for s, o in refs)


def test_java_refine_if_merge(spark):
    """End-to-end Spark check: the control-flow-sensitive refinement on
    the Java IfMerge fixture gives `int b = a` defs from BOTH the
    initializer path (else-branch read keeps it live) and the then-write."""
    from pyspark.sql import functions as F

    from cpg_spark.operators.dfg_refine import (apply_refinement,
                                                refine_dfg_delta)
    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.synth import code_docs

    g = CpgGraph(code_docs(spark, [
        ("java/ifmerge/0001", "code/java",
         JAVA_FIXTURES["ControlFlowSensitiveDFGIfMerge"])]))
    nodes, edges = g.nodes, g.edges
    delta = refine_dfg_delta(nodes, edges)
    refined = apply_refinement(
        edges, delta.filter(F.col("action") == "add").drop("action"),
        delta.filter(F.col("action") == "remove").drop("action"))
    # the read of `a` in `int b = a;` (line 10)
    into = (
        refined.filter(F.col("pred") == "DFG")
        .join(nodes.select(F.col("node_id").alias("obj"),
                           F.col("name").alias("o_name"),
                           F.col("loc.start_line").alias("o_line")), "obj")
        .filter((F.col("o_name") == "a") & (F.col("o_line") == 10))
        .join(nodes.select(F.col("node_id").alias("subj"),
                           F.col("label").alias("s_label"),
                           F.col("loc.start_line").alias("s_line")), "subj")
        .select("s_label", "s_line").collect()
    )
    srcs = {(r["s_label"], r["s_line"]) for r in into}
    # then-branch write (line 5) reaches the read
    assert ("DeclaredReferenceExpression", 5) in srcs
    # initializer path survives (else branch does not write a)
    assert ("VariableDeclaration", 3) in srcs


def test_constructors_cpp_overload_resolution():
    """ConstructorsTest.testCPP: every construction form — stack default
    ``A a1;`` (implicit ConstructExpression), direct-init ``A a2(5);``,
    copy-init ``A a4 = A();``, and ``new A(...)`` — resolves its
    CONSTRUCTOR edge to the arity-matching ConstructorDeclaration."""
    g = _graph("cpp", "constructors")
    nodes, edges = _index(g)
    ctor_line = {}
    for n in nodes.values():
        if n["label"] == "ConstructorDeclaration":
            ctor_line[n["node_id"]] = n["loc"]["start_line"]
    assert sorted(ctor_line.values()) == [3, 4, 5]  # 0/1/2-arg ctors
    # (construct-site line or None) -> resolved ctor line
    resolved = []
    for e in edges["CONSTRUCTOR"]:
        site = nodes[e["subj"]]
        resolved.append(((site["loc"] or {}).get("start_line"),
                         ctor_line[e["obj"]]))
    # 10 construction sites: lines 9..11 stack/direct, 12..14 copy-init
    # (call-shaped, no loc), 15..18 new-forms
    assert len(resolved) == 10
    by_line = {ln: ct for ln, ct in resolved if ln is not None}
    assert by_line == {9: 3, 10: 4, 11: 5, 15: 3, 16: 3, 17: 4, 18: 5}
    copy_init = sorted(ct for ln, ct in resolved if ln is None)
    assert copy_init == [3, 4, 5]
    # a1's initializer is the IMPLICIT ConstructExpression (INITIALIZER
    # is an AST edge: pred AST with props field=INITIALIZER)
    a1 = _named(nodes, "VariableDeclaration", "a1")[0]
    inits = [nodes[e["obj"]] for e in edges["AST"]
             if e["subj"] == a1["node_id"]
             and e["props"].get("field") == "INITIALIZER"]
    assert len(inits) == 1 and inits[0]["label"] == "ConstructExpression"
    assert inits[0]["is_implicit"]


def test_constructors_java_no_implicit_stack_construction():
    """ConstructorsTest.testJava:84-85: ``Constructors a4;`` gets an
    UninitializedValue initializer — Java has no stack construction, so
    no implicit ConstructExpression is attached (unlike C++, where the
    same spelling constructs: ConstructorsTest.java:121-124)."""
    g = _graph("java", "Constructors")
    nodes, edges = _index(g)
    a4 = _named(nodes, "VariableDeclaration", "a4")[0]
    inits = [nodes[e["obj"]] for e in edges.get("AST", [])
             if e["subj"] == a4["node_id"]
             and e["props"].get("field") == "INITIALIZER"]
    assert [i["label"] for i in inits] == ["UninitializedValue"]
    # the three new-forms resolve by arity
    ctor_np = {}
    for n in nodes.values():
        if n["label"] == "ConstructorDeclaration":
            ctor_np[n["node_id"]] = n["loc"]["start_line"]
    resolved = sorted(ctor_np[e["obj"]] for e in edges["CONSTRUCTOR"])
    assert resolved == [2, 3, 4]


def test_bindings_use_then_declare():
    """bindings/use_then_declare.cpp: a field used BEFORE its declaration
    in the class body still binds (the reference's two-phase
    parse-then-resolve; our frontend pre-registers members)."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    src = ("class MyClass {\n  void someFun() {\n    x = 5;\n  }\n"
           "  int x;\n};\n")
    g = parse_cpp_document("cpp/utd/0001", 0, src, "utd")
    nodes = {n["node_id"]: n for n in g.nodes}
    hits = [(nodes[e["subj"]]["name"], nodes[e["obj"]]["label"])
            for e in g.edges if e["pred"] == "REFERS_TO"
            and nodes[e["subj"]]["name"] == "x"]
    assert ("x", "FieldDeclaration") in hits
    assert not [m for m in g.mentions if m["name"] == "x"]


def test_gnu_statement_expression():
    """`({ stmt; expr; })` -> CompoundStatementExpression wrapping the
    block (CompoundStatementExpression.java:37-49); value = the last
    statement's (DFG last child -> node)."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    src = ("int main() {\n"
           "  int x = ({ int t = 2; t + 1; });\n"
           "  return x;\n"
           "}\n")
    g = parse_cpp_document("d", 0, src, "m")
    cse = [r for r in g.nodes if r["label"] == "CompoundStatementExpression"]
    assert len(cse) == 1
    # block child via field STATEMENT, last stmt flows into the node
    kids = [e for e in g.edges if e["subj"] == cse[0]["node_id"]
            and e["props"].get("field") == "STATEMENT"]
    assert len(kids) == 1
    dfg_in = [e for e in g.edges if e["pred"] == "DFG"
              and e["obj"] == cse[0]["node_id"]]
    assert dfg_in, "last statement must DFG-flow into the expression"
    # the initializer flows on into x
    x = next(r["node_id"] for r in g.nodes
             if r["label"] == "VariableDeclaration" and r["name"] == "x")
    assert any(e["pred"] == "DFG" and e["subj"] == cse[0]["node_id"]
               and e["obj"] == x for e in g.edges)
    assert not [r for r in g.nodes if "Problem" in r["label"]]


def test_asm_declaration_statement():
    """`asm("...")` -> ASMDeclarationStatement carrying the asm text
    (statements/ASMDeclarationStatement.java); volatile/extended forms
    consume cleanly."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    src = ("int main() {\n"
           "  int a = 1;\n"
           '  asm("nop");\n'
           '  __asm__ volatile("mfence" ::: "memory");\n'
           "  return a;\n"
           "}\n")
    g = parse_cpp_document("d", 0, src, "m")
    asms = [r for r in g.nodes if r["label"] == "ASMDeclarationStatement"]
    assert len(asms) == 2
    assert {a["code"] for a in asms} == {"nop", "mfencememory"}
    assert not [r for r in g.nodes if "Problem" in r["label"]]
    assert not [r for r in g.nodes
                if r["label"] == "Expression" and r["name"] == ""]


def test_cpp_cv_qualified_range_for_and_bare_unsigned():
    """`for (const auto& r : xs)` and bare sign qualifiers: the cv/sign
    prefix opens a type (C11 6.7.2 implied int), never swallows the
    declarator ident."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    cases = {
        "const_auto_ref": "void f() { for (const auto& r : roles)"
                          " { use(r); } }",
        "const_qualified": "void f() { for (const std::string& r :"
                           " roles) { } }",
        "unsigned_iter": "void f() { for (unsigned r : roles) { } }",
        "bare_unsigned_local": "void f() { unsigned x = 5; use(x); }",
        "bare_signed_local": "void f() { signed y = -2; use(y); }",
        "member_range_for": "struct U { bool f() const noexcept {"
                            " for (const auto& r : roles) { if (r ==\n"
                            ' "admin") return true; } return false;'
                            " } };",
    }
    for name, src in cases.items():
        g = parse_cpp_document(name + ".cpp", 0, src)
        probs = [n for n in g.nodes if "Problem" in (n["label"] or "")]
        assert not probs, (name, probs)
    g = parse_cpp_document("u.cpp", 0,
                           "void f() { unsigned x = 5; use(x); }")
    decl = next(n for n in g.nodes
                if n["label"] == "VariableDeclaration"
                and n["name"] == "x")
    # EVAL_TYPE lands on the implied-int spelling
    tids = [e["obj"] for e in g.edges
            if e["pred"] == "EVAL_TYPE" and e["subj"] == decl["node_id"]]
    types = [n["name"] for n in g.nodes if n["node_id"] in tids]
    assert types and "unsigned" in types[0], types
    # the reference resolves the later `use(x)` read back to the decl
    ref = next(n for n in g.nodes
               if n["label"] == "DeclaredReferenceExpression"
               and n["name"] == "x")
    assert any(e["pred"] == "REFERS_TO" and e["subj"] == ref["node_id"]
               and e["obj"] == decl["node_id"] for e in g.edges)


def test_cpp_operator_overloads_and_brace_init_lists():
    """Operator overloads parse as named functions (CDT's operator+ /
    operator() / operator new[] method names), brace-init declarator
    lists bind every declarator, =default/=delete/pure-virtual are
    declaration-only, and throw-expressions work in ternary arms."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    src = (
        "struct V { int x; };\n"
        "V operator+(V a, V b) { return V{a.x + b.x}; }\n"
        "struct T {\n"
        "  T() = default;\n"
        "  T(const T&) = delete;\n"
        "  T& operator=(T&&) = default;\n"
        "  int operator()(int v) const { return v * 2; }\n"
        "  int& operator[](int i) { return d[i]; }\n"
        "  bool operator==(const T& o) const { return true; }\n"
        "  virtual int pure() const = 0;\n"
        "  int d[4];\n"
        "};\n"
        "int f(int x) { V p{1}, q{2}; return x > 0 ? p.x : throw 1; }\n")
    g = parse_cpp_document("ops.cpp", 0, src)
    assert not [n for n in g.nodes if "Problem" in (n["label"] or "")]
    assert not [n for n in g.nodes if n["label"] == "Expression"]
    fns = {n["name"] for n in g.nodes
           if n["label"] in ("FunctionDeclaration", "MethodDeclaration")}
    assert {"operator+", "operator=", "operator()", "operator[]",
            "operator==", "pure", "f"} <= fns
    # brace-init declarator list binds BOTH locals with initializers
    vds = {n["name"] for n in g.nodes
           if n["label"] == "VariableDeclaration"}
    assert {"p", "q"} <= vds
    throws = [n for n in g.nodes if n["label"] == "UnaryOperator"
              and n["name"] == "throw"]
    assert len(throws) == 1


def test_cpp_conversion_operators():
    """`operator bool()` / `explicit operator int()` / pointer targets
    emit MethodDeclarations named `operator <type>` (CDT
    ICPPASTConversionName); previously dropped silently."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    g = parse_cpp_document(
        "conv.cpp", 0,
        "struct S {\n"
        "  operator bool() const { return ok; }\n"
        "  explicit operator int() const { return 1; }\n"
        "  operator const char*() const { return p; }\n"
        "  bool ok;\n"
        "  const char* p;\n"
        "};\n")
    assert not [n for n in g.nodes if "Problem" in (n["label"] or "")]
    names = {n["name"] for n in g.nodes
             if n["label"] == "MethodDeclaration"}
    assert {"operator bool", "operator int",
            "operator const char*"} <= names


def test_ctor_mem_initializer_args_get_unique_ids():
    """Every argument of one member initializer is its own node:
    `v(x, y, z)` must not parse y and z at the same path (a node-id
    collision that materialize would silently dedup away)."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    src = ("struct P {\n  int v;\n"
           "  P(int x, int y, int z) : v(x, y, z) { }\n};\n")
    g = parse_cpp_document("cpp/minit/0001", 0, src, "minit")
    ids = [n["node_id"] for n in g.nodes]
    assert len(ids) == len(set(ids))
    refs = [n["name"] for n in g.nodes
            if n["label"] == "DeclaredReferenceExpression"]
    assert sorted(refs) == ["x", "y", "z"]
