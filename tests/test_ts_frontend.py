"""TypeScript/JavaScript frontend (SURVEY F6).

Fixtures paraphrase the reference's TS test resources
(``cpg-core/src/test/resources/typescript/{function.ts,component.tsx,
fetch.ts}``) and assert the semantics the reference's
TypeScriptLanguageFrontendTest checks: function/param/return typing,
forward-reference call resolution, class/interface records with
SUPER_TYPE, arrow lambdas, destructuring, template-literal DFG, member
mentions for the cross-document linker.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from cpg_spark.frontends.ts_frontend import parse_ts_document
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

FUNCTION_TS = """
function someFunction(): Number {
    const i = someOtherFunction("hello");
    return i;
}

function someOtherFunction(s: String): Number {
    return s.length;
}
"""

COMPONENT_TS = """
export interface UsersState {
    users: string[];
}

export class Users extends Component {
    state: UsersState;

    constructor(props: {}) {
        this.state = { users: [] }
    }

    render() {
        const { users } = this.state;
        return users;
    }
}
"""

CHAIN_TS = """
function handleSubmit(event: any) {
    const apiUrl = `/api/v1/groups`;
    const token = localStorage.getItem("access_token");

    fetch(apiUrl, { method: 'POST', body: token })
    .then((res) => {
        const group = res.json();
        console.log(group);
    });
}
"""


def _labels(g):
    return Counter(n["label"] for n in g.nodes)


def test_function_forward_call_resolves():
    g = parse_ts_document("ts/m/0001", 0, FUNCTION_TS)
    labs = _labels(g)
    assert labs["FunctionDeclaration"] == 2
    assert labs["ParameterDeclaration"] == 1
    # someOtherFunction declared AFTER its call site still resolves
    # (module scope is one frame, resolution is deferred)
    calls = [e for e in g.edges if e["pred"] == "CALLS"]
    assert len(calls) == 1
    # s.length -> member mention for the linker (String is not a local
    # record)
    assert [(m["kind"], m["name"]) for m in g.mentions] == \
        [("member_ref", "length")]
    # return type annotations land as EVAL_TYPE
    types = {n["name"] for n in g.nodes if n["label"] == "Type"}
    assert {"Number", "String"} <= types


def test_class_interface_supertypes_and_this():
    g = parse_ts_document("ts/m/0002", 0, COMPONENT_TS)
    labs = _labels(g)
    assert labs["RecordDeclaration"] == 2          # interface + class
    assert labs["ConstructorDeclaration"] == 1
    assert labs["MethodDeclaration"] == 1
    supers = [e for e in g.edges if e["pred"] == "SUPER_TYPE"]
    assert len(supers) == 1
    # `this.state` resolves to the declared field via the record
    field = next(n for n in g.nodes
                 if n["label"] == "FieldDeclaration" and n["name"] == "state")
    refs_to_field = [e for e in g.edges
                     if e["pred"] == "REFERS_TO" and e["obj"] == field["node_id"]]
    assert refs_to_field, "this.state must resolve to the state field"
    # destructuring binds `users` as a VariableDeclaration
    assert any(n["label"] == "VariableDeclaration" and n["name"] == "users"
               and n["props"].get("destructured") == "true"
               for n in g.nodes)
    syms = {(s["kind"], s["name"]) for s in g.symbols}
    assert ("record", "Users") in syms and ("method", "render") in syms


def test_fluent_chain_and_template_literal():
    g = parse_ts_document("ts/m/0003", 0, CHAIN_TS)
    probs = [n for n in g.nodes if n["label"] == "ProblemDeclaration"]
    assert probs == []
    labs = _labels(g)
    # fetch(...).then(...) chain: fetch is a call mention, then/getItem/
    # json/log are member-call mentions
    kinds = Counter((m["kind"], m["name"]) for m in g.mentions)
    assert kinds[("call", "fetch")] == 1
    assert kinds[("member_call", "then")] == 1
    assert kinds[("member_call", "getItem")] == 1
    assert labs["LambdaExpression"] == 1
    # object literal argument -> ConstructExpression with DFG from values
    obj = next(n for n in g.nodes if n["label"] == "ConstructExpression")
    inflows = [e for e in g.edges if e["pred"] == "DFG" and e["obj"] == obj["node_id"]]
    assert len(inflows) >= 2


def test_problem_on_malformed():
    """Panic-mode recovery: a bad construct yields one located
    ProblemDeclaration (plus whatever partial nodes parsed before the
    failure), and later top-level declarations survive."""
    g = parse_ts_document("ts/m/0004", 0, "function broken( {")
    assert [n["label"] for n in g.nodes
            if n["label"] == "ProblemDeclaration"] == ["ProblemDeclaration"]
    src = ("function good1(x: number): number { return x * 2; }\n"
           "const bad = ^^^&&&;\n"
           "function good2(): string { return 'ok'; }\n")
    g2 = parse_ts_document("ts/m/0005", 0, src)
    fns = {n["name"] for n in g2.nodes
           if n["label"] == "FunctionDeclaration"}
    assert {"good1", "good2"} <= fns


def test_jsx_embedded_expressions():
    src = """
function render(users: any) {
    return <div>
        {users.map((user) => <span key={user.name}>{user.name}</span>)}
    </div>
}
"""
    g = parse_ts_document("ts/m/0005", 0, src)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    # the {users.map(...)} hole parses as a real member call
    assert any(m["kind"] == "member_call" and m["name"] == "map"
               for m in g.mentions)


def test_parenthesized_receiver_is_not_arrow_params():
    """`(expr).method(cb => ...)`: the parenthesized receiver is an
    expression, not an arrow parameter list — the lookahead must not scan
    through the member call to the callback's `=>`."""
    g = parse_ts_document("ts/m/0006", 0, "const r = (a).map(x => x + 1);\n")
    assert _labels(g)["LambdaExpression"] == 1
    assert any(m["kind"] == "member_call" and m["name"] == "map"
               for m in g.mentions)
    g2 = parse_ts_document("ts/m/0007", 0,
                           "const r = (p || q).filter(y => y);\n")
    assert _labels(g2)["ProblemDeclaration"] == 0
    assert _labels(g2)["LambdaExpression"] == 1
    # a real return annotation still makes an arrow
    g3 = parse_ts_document("ts/m/0008", 0,
                           "const f = (x): Map<string, number> => m;\n")
    assert _labels(g3)["LambdaExpression"] == 1
    # qualified return types scan past their `.`
    g4 = parse_ts_document("ts/m/0009", 0,
                           "const f = (): JSX.Element => x;\n")
    assert _labels(g4)["LambdaExpression"] == 1
    g5 = parse_ts_document("ts/m/0010", 0, "const g = (x): ns.T => x;\n")
    assert _labels(g5)["LambdaExpression"] == 1
    # ternary: the `(` of the member call ends the scan
    g6 = parse_ts_document("ts/m/0011", 0,
                           "const r = c ? (a) : b.f(x => x);\n")
    assert _labels(g6)["LambdaExpression"] == 1
    assert _labels(g6)["ProblemDeclaration"] == 0


def test_parse_docs_dispatch(spark):
    g = CpgGraph(code_docs(spark, [("ts/mod/0001", "code/typescript",
                                    FUNCTION_TS)]))
    nodes, edges = g.nodes, g.edges
    assert nodes.filter(F.col("label") == "FunctionDeclaration").count() == 2
    assert edges.filter(F.col("pred") == "CALLS").count() == 1


def test_crossdoc_ts_import_link(spark):
    """import { helper } from "./util" + helper() -> cross-document CALLS
    through the link stage (same path the py/go frontends use)."""
    util = 'export function helper(x: number): number { return x; }\n'
    main = 'import { helper } from "./util";\nconst r = helper(1);\n'
    g = CpgGraph(code_docs(spark, [("ts/util/0001", "code/typescript", util),
                                   ("ts/main/0002", "code/typescript", main)]))
    calls = g.linked.filter(F.col("pred") == "CALLS")
    # the helper() call in ts/main must land on the declaration in ts/util
    hit = (calls.join(g.nodes.selectExpr("node_id as obj",
                                         "doc_id as callee_doc"), "obj")
           .filter(F.col("callee_doc") == "ts/util/0001"))
    assert hit.count() == 1
