"""Python language frontend: ``ast``-based parser emitting CPG rows.

Behavioral re-derivation of the reference's own Python frontend
(``cpg-language-python/src/main/python/CPGPython/`` — ``_statements.py``,
``_expressions.py``, ``__init__.py``), which itself runs CPython's ``ast``
module.

Two modes (round 5):

* **full fidelity** (the DEFAULT, ``parity_mode=False``): every construct
  the reference logs NOT_IMPLEMENTED for — BoolOp, NamedExpr, UnaryOp,
  Lambda, Set, comprehensions, Yield, chained comparisons, f-strings,
  Starred, Slice, With, Raise, Assert, Delete, Global/Nonlocal, Continue,
  try-handlers, loop-``else``, ``*args``/keyword-only/``**kwargs``
  parameters, decorators, tuple-unpacking assignment — is modeled with
  real nodes in the reference's own vocabulary (UnaryOperator,
  LambdaExpression, CatchClause, AssertStatement, ArrayRangeExpression,
  DeleteExpression ... exactly the labels the C-family/Go/TS frontends
  already emit for the analogous constructs), so real-world Python code
  resolves references/calls instead of degrading to empty gap nodes.

* **reference parity** (``parity_mode=True``): reproduces the reference's
  handled/unhandled matrix verbatim, including its documented gaps
  (``_expressions.py:46-139``, ``_statements.py:91-243`` → empty
  ``Expression``/``Statement`` dummies), so fixture precision/recall is
  measured against identical semantics.  The P/R oracle gates
  (tests/test_fixture_triples.py, hand-derived from
  ``PythonFrontendTest.kt:52-195``) run in this mode.  The reference's
  own test fixtures use no gapped construct, so both modes emit
  identical rows for them — parity mode exists to keep that equivalence
  falsifiable.

Differences from the reference are architectural, not semantic: instead of
mutating a Java object graph through jep, we emit immutable rows
(nodes / edges / unresolved mentions / exported symbols) suitable for
columnar processing.  Local (document-internal) symbol resolution runs here,
inside the Arrow batch — only cross-document survivors are exported as
mention rows for the distributed linking joins (SURVEY.md J1 fast path).
"""

from __future__ import annotations

import ast

from cpg_spark.frontends.base import DocGraph, Emitter, parse_span
from cpg_spark.frontends.eog import build_eog
from cpg_spark.ids import inferred_id

# operator-code mapping — mirrors CPGPython/_misc.py handle_operator_code
# (note: the reference maps both Pow and BitXor to "^", and MatMult to "*")
_BINOP = {
    ast.Add: "+", ast.Sub: "-", ast.Mult: "*", ast.MatMult: "*",
    ast.Div: "/", ast.Mod: "%", ast.Pow: "^", ast.LShift: "<<",
    ast.RShift: ">>", ast.BitOr: "|", ast.BitXor: "^", ast.BitAnd: "&",
    ast.FloorDiv: "//",
}

_CMPOP = {
    ast.Eq: "==", ast.NotEq: "!=", ast.Lt: "<", ast.LtE: "<=",
    ast.Gt: ">", ast.GtE: ">=", ast.Is: "is", ast.IsNot: "is not",
    ast.In: "in", ast.NotIn: "not in",
}

# unary operator spellings (full-fidelity mode; same UnaryOperator node
# model as the C-family frontend's INPUT-child handling)
_UNOP = {ast.USub: "-", ast.UAdd: "+", ast.Invert: "~", ast.Not: "not"}

# expression AST kinds the reference logs NOT_IMPLEMENTED for and replaces
# with an empty Expression node (_expressions.py:46-139)
_EXPR_GAPS = (
    ast.BoolOp, ast.NamedExpr, ast.UnaryOp, ast.Lambda, ast.Set,
    ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp,
    ast.Yield, ast.YieldFrom, ast.FormattedValue, ast.JoinedStr,
    ast.Starred, ast.Slice,
)

# statement AST kinds replaced with an empty Statement node
# (_statements.py:91-243)
_STMT_GAPS = (
    ast.Delete, ast.With, ast.AsyncWith, ast.Raise, ast.Assert,
    ast.Global, ast.Nonlocal, ast.Continue,
)


def _loc(n: ast.AST):
    try:
        return (n.lineno, n.col_offset, n.end_lineno, n.end_col_offset)
    except AttributeError:
        return None


def _const_type(v) -> str | None:
    # _expressions.py:242-263 Constant handling
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, complex):
        return "complex"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "byte[]"
    return None


class PythonFrontend(Emitter):
    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str, parity_mode: bool = False):
        super().__init__(doc_id, span_offset, source, module_name)
        self.parity = parity_mode

    # ------------------------------------------------------------------ run
    def run(self) -> DocGraph:
        tree = ast.parse(self.source)
        # module -> NamespaceDeclaration named after the module
        # (CPGPython/__init__.py:65-88)
        tu_id = self.node("", "TranslationUnitDeclaration", self.module_name, None,
                          code="")
        ns_id = self.node("ns", "NamespaceDeclaration", self.module_name, None, code="")
        self.ast_edge(tu_id, ns_id, "DECLARATIONS", 0)
        self.enter_scope("module", self.module_name, ns_id)
        infos = []
        for i, stmt in enumerate(tree.body):
            nid, info = self.handle_statement(stmt, f"b[{i}]", ns_id, "STATEMENTS", i)
            infos.append(info)
        build_eog(self, ns_id, infos)
        self._module_decls = dict(self.scopes[-1].decls)
        self.leave_scope()
        self._resolve_locally()
        self._export_symbols(ns_id)
        return self.out

    # ----------------------------------------------------------- statements
    def handle_statement(self, stmt, path, parent, field, index):
        """Returns (node_id, eog_info). Declarations are wrapped in a
        DeclarationStatement before being attached (CPGPython/_misc.py
        wrap_declaration_to_stmt), matching the reference AST shape."""
        nid, info, is_decl = self._stmt_impl(stmt, path)
        if is_decl:
            ds_id = self.node(path + ".ds", "DeclarationStatement", "", _loc(stmt))
            self.ast_edge(ds_id, nid, "DECLARATIONS", 0)
            self.ast_edge(parent, ds_id, field, index)
            return ds_id, {"kind": "plain", "nid": ds_id}
        self.ast_edge(parent, nid, field, index)
        return nid, info

    def _stmt_impl(self, stmt, path):
        """Returns (node_id, eog_info, is_declaration)."""
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            nid = self.handle_function(stmt, path, record=None)
            return nid, {"kind": "plain", "nid": nid}, True
        if isinstance(stmt, ast.ClassDef):
            nid = self.handle_class(stmt, path)
            return nid, {"kind": "plain", "nid": nid}, True
        if isinstance(stmt, ast.Return):
            nid = self.node(path, "ReturnStatement", "", _loc(stmt))
            if stmt.value is not None:
                vid, vmeta = self.handle_expression(stmt.value, path + ".v")
                self.ast_edge(nid, vid, "RETURN_VALUE", 0)
                # DFG value -> return (ReturnStatement.java:53) and
                # value -> enclosing function (FunctionDeclaration.java:220-238)
                self.edge(vid, "DFG", nid)
                fn = self.current_function()
                if fn is not None and fn.node_id:
                    self.edge(vid, "DFG", fn.node_id)
            return nid, {"kind": "return", "nid": nid}, False
        if isinstance(stmt, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            return self.handle_assign(stmt, path)
        if isinstance(stmt, (ast.For, ast.AsyncFor)):
            return self.handle_for(stmt, path)
        if isinstance(stmt, ast.While):
            nid = self.node(path, "WhileStatement", "", _loc(stmt))
            cid, _ = self.handle_expression(stmt.test, path + ".c")
            self.ast_edge(nid, cid, "CONDITION", 0)
            body_id, body_infos = self.compound(stmt.body, path + ".body", nid, "STATEMENT")
            info = {"kind": "while", "nid": nid, "cond": cid,
                    "body": [{"kind": "compound", "nid": body_id,
                              "stmts": body_infos}]}
            # "orelse" unsupported in parity mode (_statements.py:116-120);
            # fidelity: runs on normal loop exit, bypassed by break
            if stmt.orelse and not self.parity:
                else_id, else_infos = self.compound(stmt.orelse, path + ".else",
                                                    nid, "ELSE_STATEMENT")
                info["orelse"] = [{"kind": "compound", "nid": else_id,
                                   "stmts": else_infos}]
            return nid, info, False
        if isinstance(stmt, ast.If):
            nid = self.node(path, "IfStatement", "", _loc(stmt))
            cid, _ = self.handle_expression(stmt.test, path + ".c")
            self.ast_edge(nid, cid, "CONDITION", 0)
            then_id, then_infos = self.compound(stmt.body, path + ".then", nid,
                                                "THEN_STATEMENT")
            info = {"kind": "if", "nid": nid, "cond": cid,
                    "then": [{"kind": "compound", "nid": then_id, "stmts": then_infos}],
                    "orelse": None}
            if stmt.orelse:
                else_id, else_infos = self.compound(stmt.orelse, path + ".else", nid,
                                                    "ELSE_STATEMENT")
                info["orelse"] = [{"kind": "compound", "nid": else_id,
                                   "stmts": else_infos}]
            return nid, info, False
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            # approximated as VariableDeclarations (_statements.py:151-203)
            nid = self.node(path, "DeclarationStatement", "", _loc(stmt))
            for i, alias in enumerate(stmt.names):
                name = alias.asname if alias.asname is not None else alias.name
                vid = self.node(f"{path}.n[{i}]", "VariableDeclaration", name,
                                _loc(stmt), code=name)
                self.declare(name, vid, "var", None)
                self.ast_edge(nid, vid, "DECLARATIONS", i)
                if isinstance(stmt, ast.ImportFrom) and stmt.module:
                    # remember the source module for cross-doc import linking
                    self.out.mentions.append(self._mention(
                        vid, "import", alias.name, base_type=stmt.module))
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, ast.Expr):
            nid, _ = self.handle_expression(stmt.value, path)
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, ast.Pass):
            nid = self.node(path, "EmptyStatement", "", _loc(stmt), code="pass")
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, ast.Break):
            nid = self.node(path, "BreakStatement", "", _loc(stmt))
            return nid, {"kind": "break", "nid": nid}, False
        if isinstance(stmt, ast.Try):
            nid = self.node(path, "TryStatement", "", _loc(stmt))
            try_id, try_infos = self.compound(stmt.body, path + ".try", nid, "TRY_BLOCK")
            body_infos = [{"kind": "compound", "nid": try_id, "stmts": try_infos}]
            catches = []
            if not self.parity:
                # except handlers -> CatchClause nodes (same node model the
                # C-family frontend emits for catch: CATCH_CLAUSES field,
                # PARAMETER exception variable, BODY block); the handler
                # variable is scoped like the reference's catch-locals
                for hi, h in enumerate(stmt.handlers):
                    cnid = self.node(f"{path}.cat[{hi}]", "CatchClause", "",
                                     _loc(h))
                    self.ast_edge(nid, cnid, "CATCH_CLAUSES", hi)
                    etype = None
                    if h.type is not None:
                        tid_, tmeta = self.handle_expression(
                            h.type, f"{path}.cat[{hi}].t")
                        etype = tmeta.get("name")
                    if h.name:
                        pid = self.node(f"{path}.cat[{hi}].p",
                                        "VariableDeclaration", h.name, _loc(h))
                        if etype:
                            self.eval_type(pid, etype)
                        self.ast_edge(cnid, pid, "PARAMETER", 0)
                        self.declare(h.name, pid, "var", etype)
                    cbid, cinfos = self.compound(h.body, f"{path}.cat[{hi}].b",
                                                 cnid, "BODY")
                    catches.append({"nid": cnid,
                                    "stmts": [{"kind": "compound", "nid": cbid,
                                               "stmts": cinfos}]})
                if stmt.orelse:
                    # `else:` runs after the body completes without raising —
                    # chained after the body in EOG (catches bypass it)
                    else_id, else_infos = self.compound(
                        stmt.orelse, path + ".else", nid, "ELSE_BLOCK")
                    body_infos.append({"kind": "compound", "nid": else_id,
                                       "stmts": else_infos})
            fin_id, fin_infos = self.compound(stmt.finalbody, path + ".fin", nid,
                                              "FINALLY_BLOCK")
            # parity mode: handlers / orelse NOT_IMPLEMENTED in the reference
            return nid, {"kind": "try", "nid": nid, "body": body_infos,
                         "catches": catches,
                         "final": [{"kind": "compound", "nid": fin_id,
                                    "stmts": fin_infos}]}, False
        if isinstance(stmt, _STMT_GAPS) and self.parity:
            nid = self.node(path, "Statement", "", _loc(stmt), code="")
            return nid, {"kind": "plain", "nid": nid}, False
        if not self.parity:
            handled = self._stmt_fidelity(stmt, path)
            if handled is not None:
                return handled
        nid = self.node(path, "Statement", "", _loc(stmt), code="")
        return nid, {"kind": "plain", "nid": nid}, False

    # ------------------------------------------- full-fidelity statements
    def _stmt_fidelity(self, stmt, path):
        """Real node models for the reference's NOT_IMPLEMENTED statements
        (round 5, VERDICT item 1).  Returns None for kinds neither the
        parity matrix nor this layer models (the honest gap fallthrough)."""
        if isinstance(stmt, ast.Continue):
            nid = self.node(path, "ContinueStatement", "", _loc(stmt))
            return nid, {"kind": "continue", "nid": nid}, False
        if isinstance(stmt, ast.Raise):
            # same model as C++ `throw`: UnaryOperator with INPUT operand
            # (cfamily_frontend handles throw identically); EOG clears
            # fall-through like return
            nid = self.node(path, "UnaryOperator", "raise", _loc(stmt),
                            props={"operator": "raise"})
            if stmt.exc is not None:
                eid, _ = self.handle_expression(stmt.exc, path + ".e")
                self.ast_edge(nid, eid, "INPUT", 0)
                self.edge(eid, "DFG", nid)
            return nid, {"kind": "throw", "nid": nid}, False
        if isinstance(stmt, ast.Assert):
            # AssertStatement with CONDITION + MESSAGE children
            # (statements/AssertStatement.java; java dialect emits the same)
            nid = self.node(path, "AssertStatement", "", _loc(stmt))
            cid, _ = self.handle_expression(stmt.test, path + ".c")
            self.ast_edge(nid, cid, "CONDITION", 0)
            if stmt.msg is not None:
                mid, _ = self.handle_expression(stmt.msg, path + ".msg")
                self.ast_edge(nid, mid, "MESSAGE", 0)
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, ast.Delete):
            # DeleteExpression with OPERAND children
            # (expressions/DeleteExpression.java; cpp `delete` parity)
            nid = self.node(path, "DeleteExpression", "", _loc(stmt))
            for i, t in enumerate(stmt.targets):
                tid, _ = self.handle_expression(t, f"{path}.t[{i}]")
                self.ast_edge(nid, tid, "OPERAND", i)
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, (ast.With, ast.AsyncWith)):
            # context managers: each item's context expression is a
            # RESOURCE child (the TryStatement resource model,
            # statements/TryStatement.java resources); `as v` binds a
            # fresh VariableDeclaration fed by the context expression
            nid = self.node(path, "TryStatement", "with", _loc(stmt),
                            props={"with": "true"})
            for i, item in enumerate(stmt.items):
                cid, cmeta = self.handle_expression(item.context_expr,
                                                    f"{path}.ctx[{i}]")
                ov = item.optional_vars
                if isinstance(ov, ast.Name):
                    # `with ctx() as v:` — v is a VariableDeclaration whose
                    # INITIALIZER is the context expression (single AST
                    # parent; VariableDeclaration.java:118 DFG init -> var)
                    vid = self.node(f"{path}.as[{i}]", "VariableDeclaration",
                                    ov.id, _loc(ov))
                    self.ast_edge(nid, vid, "RESOURCES", i)
                    self.ast_edge(vid, cid, "INITIALIZER", 0)
                    self.edge(cid, "DFG", vid)
                    if cmeta.get("type"):
                        self.eval_type(vid, cmeta["type"])
                    self.declare(ov.id, vid, "var", cmeta.get("type"))
                else:
                    self.ast_edge(nid, cid, "RESOURCES", i)
            body_id, body_infos = self.compound(stmt.body, path + ".body", nid,
                                                "TRY_BLOCK")
            return nid, {"kind": "try", "nid": nid,
                         "body": [{"kind": "compound", "nid": body_id,
                                   "stmts": body_infos}],
                         "final": []}, False
        if isinstance(stmt, ast.Global):
            # binds the names to module scope for the rest of this scope —
            # assignments then resolve to (or forward-declare) the
            # module-level VariableDeclaration instead of a new local
            mod = next((s for s in self.scopes if s.kind == "module"), None)
            for j, nm in enumerate(stmt.names):
                if mod is None:
                    continue
                d = mod.decls.get(nm)
                if d is None:
                    vid = self.node(f"{path}.d[{j}]", "VariableDeclaration",
                                    nm, _loc(stmt), is_implicit=True)
                    d = {"decl_id": vid, "kind": "var", "type": None,
                         "seq": self.tick()}
                    mod.decls[nm] = d
                self.scopes[-1].decls[nm] = d
            nid = self.node(path, "Statement", "global", _loc(stmt))
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, ast.Nonlocal):
            # aliases the enclosing function's binding into this scope
            fn_frames = [i for i, s in enumerate(self.scopes)
                         if s.kind == "function"]
            outer = self.scopes[:fn_frames[-1]] if fn_frames else []
            for nm in stmt.names:
                for s in reversed(outer):
                    if nm in s.decls and s.kind in ("function", "block"):
                        self.scopes[-1].decls[nm] = s.decls[nm]
                        break
            nid = self.node(path, "Statement", "nonlocal", _loc(stmt))
            return nid, {"kind": "plain", "nid": nid}, False
        if isinstance(stmt, ast.Match):
            return self._handle_match(stmt, path)
        if hasattr(ast, "TryStar") and isinstance(stmt, ast.TryStar):
            # `except*` groups (PEP 654, 3.11): same TryStatement /
            # CatchClause shape as plain try — the star affects runtime
            # regrouping, not graph structure
            plain = ast.Try(body=stmt.body, handlers=stmt.handlers,
                            orelse=stmt.orelse, finalbody=stmt.finalbody)
            ast.copy_location(plain, stmt)
            nid, info, _ = self._stmt_impl(plain, path)
            return nid, info, False
        return None

    def _handle_match(self, stmt, path):
        """``match``/``case`` -> SwitchStatement node model (selector as
        CONDITION, one CompoundStatement per case, implicit-break
        semantics like Go's EOG switch shape).  Capture patterns declare
        their names so case bodies resolve."""
        nid = self.node(path, "SwitchStatement", "", _loc(stmt))
        sid, _ = self.handle_expression(stmt.subject, path + ".sel")
        self.ast_edge(nid, sid, "CONDITION", 0)
        cases = []
        has_default = False

        def bind_pattern(p, ppath, k=[0]):
            """Declare every capture name in a match pattern."""
            if isinstance(p, ast.MatchAs):
                if p.name:
                    vid = self.node(f"{ppath}.cap[{k[0]}]",
                                    "VariableDeclaration", p.name, _loc(p))
                    self.declare(p.name, vid, "var", None)
                    self.edge(sid, "DFG", vid)
                    k[0] += 1
                if p.pattern is not None:
                    bind_pattern(p.pattern, ppath, k)
            elif isinstance(p, ast.MatchStar):
                if p.name:
                    vid = self.node(f"{ppath}.cap[{k[0]}]",
                                    "VariableDeclaration", p.name, _loc(p))
                    self.declare(p.name, vid, "var", None)
                    k[0] += 1
            elif isinstance(p, ast.MatchValue):
                self.handle_expression(p.value, f"{ppath}.val[{k[0]}]")
                k[0] += 1
            elif isinstance(p, (ast.MatchSequence, ast.MatchOr)):
                for sub in p.patterns:
                    bind_pattern(sub, ppath, k)
            elif isinstance(p, ast.MatchMapping):
                for sub in p.patterns:
                    bind_pattern(sub, ppath, k)
                if p.rest:
                    vid = self.node(f"{ppath}.cap[{k[0]}]",
                                    "VariableDeclaration", p.rest, _loc(p))
                    self.declare(p.rest, vid, "var", None)
                    k[0] += 1
            elif isinstance(p, ast.MatchClass):
                self.handle_expression(p.cls, f"{ppath}.cls[{k[0]}]")
                k[0] += 1
                for sub in list(p.patterns) + list(p.kwd_patterns):
                    bind_pattern(sub, ppath, k)

        for ci, case in enumerate(stmt.cases):
            cpath = f"{path}.case[{ci}]"
            cnid = self.node(cpath, "CaseStatement", "", _loc(case.pattern))
            self.ast_edge(nid, cnid, "STATEMENTS", ci)
            bind_pattern(case.pattern, cpath)
            if case.guard is not None:
                gid, _ = self.handle_expression(case.guard, cpath + ".g")
                self.ast_edge(cnid, gid, "CASE_EXPRESSION", 0)
            is_default = (isinstance(case.pattern, ast.MatchAs)
                          and case.pattern.pattern is None
                          and case.pattern.name is None)
            has_default = has_default or is_default
            body_id, body_infos = self.compound(case.body, cpath + ".b", cnid,
                                                "STATEMENTS")
            cases.append({"nid": cnid, "default": is_default,
                          "stmts": [{"kind": "compound", "nid": body_id,
                                     "stmts": body_infos}]})
        return nid, {"kind": "switch", "nid": nid, "cond": sid,
                     "cases": cases}, False

    def handle_for(self, stmt, path):
        """ForEachStatement (_statements.py:397-423): the loop variable is a
        fresh VariableDeclaration wrapped in a DeclarationStatement when it
        doesn't resolve, else the parsed expression."""
        nid = self.node(path, "ForEachStatement", "", _loc(stmt))
        var_targets = []
        if isinstance(stmt.target, ast.Name) and self.resolve(stmt.target.id) is None:
            vid = self.node(path + ".var", "VariableDeclaration", stmt.target.id,
                            _loc(stmt.target))
            self.declare(stmt.target.id, vid, "var", None)
            ds = self.node(path + ".var.ds", "DeclarationStatement", "",
                           _loc(stmt.target))
            self.ast_edge(ds, vid, "DECLARATIONS", 0)
            self.ast_edge(nid, ds, "VARIABLE", 0)
            var_targets.append(vid)
        elif (not self.parity
              and isinstance(stmt.target, (ast.Tuple, ast.List))):
            # `for k, v in ...` — each fresh name becomes its own
            # VariableDeclaration under one DeclarationStatement (fidelity;
            # parity routes the tuple through handle_expression's ILE)
            ds = self.node(path + ".var.ds", "DeclarationStatement", "",
                           _loc(stmt.target))
            self.ast_edge(nid, ds, "VARIABLE", 0)
            for ti, el in enumerate(stmt.target.elts):
                el2 = el.value if isinstance(el, ast.Starred) else el
                if isinstance(el2, ast.Name) and self.resolve(el2.id) is None:
                    vid = self.node(f"{path}.var[{ti}]", "VariableDeclaration",
                                    el2.id, _loc(el2))
                    self.declare(el2.id, vid, "var", None)
                    self.ast_edge(ds, vid, "DECLARATIONS", ti)
                    var_targets.append(vid)
                else:
                    tid, _ = self.handle_expression(el2, f"{path}.var[{ti}]",
                                                    access="write")
                    self.ast_edge(ds, tid, "DECLARATIONS", ti)
                    var_targets.append(tid)
        else:
            tid, _ = self.handle_expression(stmt.target, path + ".var",
                                            access="write")
            self.ast_edge(nid, tid, "VARIABLE", 0)
            var_targets.append(tid)
        iid, _ = self.handle_expression(stmt.iter, path + ".iter")
        self.ast_edge(nid, iid, "ITERABLE", 0)
        for vt in var_targets:  # iterable flows into the variable(s)
            self.edge(iid, "DFG", vt)
        body_id, body_infos = self.compound(stmt.body, path + ".body", nid,
                                            "STATEMENT")
        info = {"kind": "foreach", "nid": nid,
                "body": [{"kind": "compound", "nid": body_id,
                          "stmts": body_infos}]}
        # orelse: NOT_IMPLEMENTED in the reference (_statements.py:420-421);
        # fidelity mode wires it as the loop's normal-exit continuation
        if stmt.orelse and not self.parity:
            else_id, else_infos = self.compound(stmt.orelse, path + ".else",
                                                nid, "ELSE_STATEMENT")
            info["orelse"] = [{"kind": "compound", "nid": else_id,
                               "stmts": else_infos}]
        return nid, info, False

    def compound(self, stmts, path, parent, field):
        """CompoundStatement with ordered STATEMENTS property edges
        (CompoundStatement.java:47; make_compound_statement in the
        reference frontend)."""
        cid = self.node(path, "CompoundStatement", "", None, code="")
        self.ast_edge(parent, cid, field, 0)
        infos = []
        for i, s in enumerate(stmts or []):
            _, info = self.handle_statement(s, f"{path}[{i}]", cid, "STATEMENTS", i)
            infos.append(info)
        return cid, infos

    # ---------------------------------------------------------- functions
    def handle_function(self, node, path, record: dict | None):
        name = node.name
        if record is not None:
            if name == "__init__":
                label = "ConstructorDeclaration"
            else:
                label = "MethodDeclaration"
        else:
            label = "FunctionDeclaration"
        fid = self.node(path, label, name, _loc(node))
        if not self.parity:
            # decorators reference names in the ENCLOSING scope (fidelity;
            # the reference skips decorator_list entirely) — modeled like
            # the java frontend's ANNOTATIONS edges
            for di, dec in enumerate(node.decorator_list):
                did, _ = self.handle_expression(dec, f"{path}.dec[{di}]")
                self.edge(fid, "ANNOTATIONS", did, {"index": di})
        fscope = self.enter_scope("function", name, fid)

        # positional params; fidelity adds PEP-570 positional-only ones
        # (parity: node.args.args only, _statements.py:290-304)
        args = (list(node.args.posonlyargs) if not self.parity else []) \
            + list(node.args.args)
        param_ids, param_names = [], []
        pidx = 0
        if record is not None:
            # first positional arg is the receiver (self) —
            # _statements.py:290-304
            if args:
                recv = args[0]
                rid = self.node(f"{path}.recv", "VariableDeclaration", recv.arg,
                                _loc(recv))
                self.eval_type(rid, record["name"])
                self.edge(fid, "RECEIVER", rid)
                self.declare(recv.arg, rid, "receiver", record["name"])
                args = args[1:]
        param_types = []
        for a in args:
            pid = self.node(f"{path}.p[{pidx}]", "ParamVariableDeclaration", a.arg,
                            _loc(a), argument_index=pidx)
            tname = None
            if a.annotation is not None and isinstance(a.annotation, ast.Name):
                tname = a.annotation.id
                self.eval_type(pid, tname)
            self.edge(fid, "PARAMETERS", pid, {"index": pidx})
            self.ast_edge(fid, pid, "PARAMETERS", pidx)
            self.declare(a.arg, pid, "param", tname)
            param_ids.append(pid)
            param_names.append(a.arg)
            param_types.append(tname)
            pidx += 1
        if not self.parity:
            # *args / keyword-only / **kwargs become real (variadic)
            # ParamVariableDeclarations so body references resolve —
            # parity reproduces the reference's NOT_IMPLEMENTED gap
            # (_statements.py:309-321)
            extra = []
            if node.args.vararg is not None:
                extra.append((node.args.vararg, "vararg"))
            extra += [(a, "kwonly") for a in node.args.kwonlyargs]
            if node.args.kwarg is not None:
                extra.append((node.args.kwarg, "kwarg"))
            for a, k in extra:
                pid = self.node(f"{path}.p[{pidx}]",
                                "ParamVariableDeclaration", a.arg, _loc(a),
                                argument_index=pidx,
                                props=({"variadic": "true"}
                                       if k in ("vararg", "kwarg") else {}))
                tname = None
                if isinstance(getattr(a, "annotation", None), ast.Name):
                    tname = a.annotation.id
                    self.eval_type(pid, tname)
                self.edge(fid, "PARAMETERS", pid, {"index": pidx})
                self.ast_edge(fid, pid, "PARAMETERS", pidx)
                self.declare(a.arg, pid, "param", tname)
                param_ids.append(pid)
                param_names.append(a.arg)
                param_types.append(tname)
                pidx += 1
        # the trailing positional `defaults` count and the *args flag ARE
        # recorded for the link-stage signature-viability gate
        # (CallResolver.java:980-1014)
        n_defaults = len(node.args.defaults) + (
            0 if self.parity
            else sum(1 for d in node.args.kw_defaults if d is not None))
        is_variadic = node.args.vararg is not None

        if node.body:
            body_id, infos = self.compound(node.body, path + ".body", fid, "BODY")
            build_eog(self, fid, [{"kind": "compound", "nid": body_id, "stmts": infos}])
        self.leave_scope()
        self.declare(name, fid, "function", None)
        fscope_decl = {
            "decl_id": fid, "kind": "function", "name": name,
            "n_params": len(param_ids), "param_ids": param_ids,
            "param_names": param_names, "record": record["name"] if record else None,
            "n_defaults": n_defaults, "param_types": param_types,
            "is_variadic": is_variadic,
        }
        self._functions_by_id[fid] = fscope_decl
        # enrich the scope entry so call resolution can map args -> params
        self.scopes[-1].decls[name] = {
            "decl_id": fid, "kind": "function", "type": None,
            "fn": fscope_decl,
        }
        return fid

    def _emit_params(self, fid, arguments, path):
        """ParamVariableDeclarations for a lambda's argument list
        (positional + *args/kwonly/**kwargs), declared into the current
        (function) scope.  Fidelity-mode only."""
        pidx = 0
        alist = list(arguments.posonlyargs) + list(arguments.args)
        if arguments.vararg is not None:
            alist.append(arguments.vararg)
        alist += list(arguments.kwonlyargs)
        if arguments.kwarg is not None:
            alist.append(arguments.kwarg)
        for a in alist:
            pid = self.node(f"{path}.p[{pidx}]", "ParamVariableDeclaration",
                            a.arg, _loc(a), argument_index=pidx)
            self.edge(fid, "PARAMETERS", pid, {"index": pidx})
            self.ast_edge(fid, pid, "PARAMETERS", pidx)
            self.declare(a.arg, pid, "param", None)
            pidx += 1

    def handle_class(self, node, path):
        name = node.name
        rid = self.node(path, "RecordDeclaration", name, _loc(node))
        if not self.parity:
            for di, dec in enumerate(node.decorator_list):
                did, _ = self.handle_expression(dec, f"{path}.dec[{di}]")
                self.edge(rid, "ANNOTATIONS", did, {"index": di})
        rec = {"decl_id": rid, "name": name, "fields": {}, "methods": {},
               "ctors": [], "supers": []}
        # register before the body so methods can construct the record
        # (reference registers the record in scope on enterScope)
        self.records[name] = rec
        self.declare(name, rid, "record", name)
        self.enter_scope("record", name, rid)
        for base in node.bases:
            if isinstance(base, ast.Name):
                rec["supers"].append(base.id)
                self.edge(rid, "SUPER_TYPE", self.type_node(base.id))
        mi = ci = si = 0
        for i, s in enumerate(node.body):
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fid = self.handle_function(s, f"{path}.m[{i}]", rec)
                if s.name == "__init__":
                    self.edge(rid, "CONSTRUCTORS", fid, {"index": ci})
                    self.ast_edge(rid, fid, "CONSTRUCTORS", ci)
                    rec["ctors"].append(fid)
                    ci += 1
                else:
                    self.edge(rid, "METHODS", fid, {"index": mi})
                    self.ast_edge(rid, fid, "METHODS", mi)
                    rec["methods"].setdefault(s.name, []).append(fid)
                    mi += 1
            else:
                nid, _, is_decl = self._stmt_impl(s, f"{path}.s[{i}]")
                if is_decl:
                    ds = self.node(f"{path}.s[{i}].ds", "DeclarationStatement", "",
                                   _loc(s))
                    self.ast_edge(ds, nid, "DECLARATIONS", 0)
                    nid = ds
                self.ast_edge(rid, nid, "STATEMENTS", si)
                si += 1
        self.leave_scope()
        return rid

    # ------------------------------------------------------------- assign
    def handle_assign(self, stmt, path):
        """_statements.py:462-623 semantics, including the reference's
        AugAssign quirk: the dedicated AugAssign branch is dead code there
        (``stmt is ast.AugAssign`` is always False), so ``a += 1`` takes the
        plain path and produces a '=' BinaryOperator when the lhs resolves."""
        if isinstance(stmt, ast.Assign):
            if len(stmt.targets) != 1:
                if not self.parity:
                    # `a = b = v` — declare/assign every target off one rhs
                    return self._multi_assign(stmt.targets, stmt.value,
                                              stmt, path)
                nid = self.node(path, "BinaryOperator", "", _loc(stmt), props={"operator": "="})
                return nid, {"kind": "plain", "nid": nid}, False
            target = stmt.targets[0]
        else:
            target = stmt.target
        value = getattr(stmt, "value", None)

        if not isinstance(target, (ast.Name, ast.Attribute)):
            if not self.parity:
                if isinstance(target, (ast.Tuple, ast.List)):
                    return self._unpack_assign(target, value, stmt, path)
                if isinstance(target, (ast.Subscript, ast.Starred)):
                    # `d[k] = v` — '=' BinaryOperator over the parsed
                    # write-access target (children resolve normally)
                    nid = self.node(path, "BinaryOperator", "=", _loc(stmt),
                                    props={"operator": "="})
                    lhs_id, _ = self.handle_expression(target, path + ".l",
                                                       access="write")
                    self.ast_edge(nid, lhs_id, "LHS", 0)
                    if value is not None:
                        rhs_id, _ = self.handle_expression(value, path + ".r")
                        self.ast_edge(nid, rhs_id, "RHS", 0)
                        self.edge(rhs_id, "DFG", lhs_id)
                        self.edge(rhs_id, "DFG", nid)
                    return nid, {"kind": "plain", "nid": nid}, False
            # "Expected a DeclaredReferenceExpression or MemberExpression"
            nid = self.node(path, "BinaryOperator", "", _loc(stmt), props={"operator": "="})
            return nid, {"kind": "plain", "nid": nid}, False

        in_record = self.in_record()
        in_function = self.in_function()

        if isinstance(target, ast.Name):
            resolved = self.resolve(target.id)
            if resolved is not None:
                # known variable -> '=' BinaryOperator (write access DFG:
                # BinaryOperator.java:82-95; DeclaredReferenceExpression
                # WRITE access: ref -> decl)
                nid = self.node(path, "BinaryOperator", "=", _loc(stmt),
                                props={"operator": "="})
                lhs_id, _ = self.handle_expression(target, path + ".l", access="write")
                self.ast_edge(nid, lhs_id, "LHS", 0)
                if value is not None:
                    rhs_id, rmeta = self.handle_expression(value, path + ".r")
                    self.ast_edge(nid, rhs_id, "RHS", 0)
                    self.edge(rhs_id, "DFG", lhs_id)
                    self.edge(rhs_id, "DFG", nid)
                    if rmeta.get("type"):
                        self.eval_type(nid, rmeta["type"])
                return nid, {"kind": "plain", "nid": nid}, False
            if in_record and not in_function:
                # class-level field (class_var = 123)
                return self._new_field(target.id, value, stmt, path, member=False)
            # new local / module-level variable
            rhs_id = rtype = None
            if value is not None:
                rhs_id, rmeta = self.handle_expression(value, path + ".r")
                rtype = rmeta.get("type")
            if (rtype is None and not self.parity
                    and isinstance(stmt, ast.AnnAssign)):
                # `x: T = ...` — the declared annotation wins when the
                # rhs doesn't carry a type (fidelity only)
                if isinstance(stmt.annotation, ast.Name):
                    rtype = stmt.annotation.id
                else:
                    try:
                        rtype = ast.unparse(stmt.annotation)
                    except Exception:
                        rtype = None
            vid = self.node(path, "VariableDeclaration", target.id, _loc(stmt))
            if rhs_id is not None:
                self.ast_edge(vid, rhs_id, "INITIALIZER", 0)
                # DFG initializer -> variable (VariableDeclaration.java:118)
                self.edge(rhs_id, "DFG", vid)
            if rtype:
                self.eval_type(vid, rtype)
            self.declare(target.id, vid, "var", rtype)
            return vid, {"kind": "plain", "nid": vid}, True

        # --- member assignment (self.x = ...) ------------------------------
        attr = target.attr
        resolved = self.resolve(attr)
        if resolved is not None:
            nid = self.node(path, "BinaryOperator", "=", _loc(stmt),
                            props={"operator": "="})
            lhs_id, _ = self.handle_expression(target, path + ".l", access="write")
            self.ast_edge(nid, lhs_id, "LHS", 0)
            if value is not None:
                rhs_id, _ = self.handle_expression(value, path + ".r")
                self.ast_edge(nid, rhs_id, "RHS", 0)
                self.edge(rhs_id, "DFG", lhs_id)
                self.edge(rhs_id, "DFG", nid)
            return nid, {"kind": "plain", "nid": nid}, False
        if in_record and in_function:
            # self.new_field = ... inside a method: new FieldDeclaration
            # (_statements.py:550-604); base must be the receiver
            fn = self.current_function()
            recv_ok = False
            if isinstance(target.value, ast.Name) and fn is not None:
                base_decl = self.resolve(target.value.id)
                recv_ok = base_decl is not None and base_decl["kind"] == "receiver"
            if not recv_ok:
                nid = self.node(path, "Statement", "DUMMY", _loc(stmt))
                return nid, {"kind": "plain", "nid": nid}, False
            return self._new_field(attr, value, stmt, path, member=True)
        if not in_record:
            # reference quirk: module-level `foo.bar = x` creates a
            # VariableDeclaration named after the attribute
            rhs_id = rtype = None
            if value is not None:
                rhs_id, rmeta = self.handle_expression(value, path + ".r")
                rtype = rmeta.get("type")
            vid = self.node(path, "VariableDeclaration", attr, _loc(stmt))
            if rhs_id is not None:
                self.ast_edge(vid, rhs_id, "INITIALIZER", 0)
                self.edge(rhs_id, "DFG", vid)
            if rtype:
                self.eval_type(vid, rtype)
            self.declare(attr, vid, "var", rtype)
            return vid, {"kind": "plain", "nid": vid}, True
        nid = self.node(path, "Statement", "DUMMY", _loc(stmt))
        return nid, {"kind": "plain", "nid": nid}, False

    def _multi_assign(self, targets, value, stmt, path):
        """``a = b = v`` (fidelity): one rhs, every target written —
        modeled as a '=' BinaryOperator whose LHS is the target list;
        fresh names declare implicit VariableDeclarations."""
        nid = self.node(path, "BinaryOperator", "=", _loc(stmt),
                        props={"operator": "="})
        rhs_id = None
        rtype = None
        if value is not None:
            rhs_id, rmeta = self.handle_expression(value, path + ".r")
            self.ast_edge(nid, rhs_id, "RHS", 0)
            self.edge(rhs_id, "DFG", nid)
            rtype = rmeta.get("type")
        for i, t in enumerate(targets):
            tid = self._write_target(t, f"{path}.l[{i}]", rtype)
            if tid is not None:
                self.ast_edge(nid, tid, "LHS", i)
                if rhs_id is not None:
                    self.edge(rhs_id, "DFG", tid)
        return nid, {"kind": "plain", "nid": nid}, False

    def _unpack_assign(self, target, value, stmt, path):
        """``a, b = v`` (fidelity): '=' BinaryOperator whose LHS is an
        InitializerListExpression of the unpacked targets; fresh names
        declare VariableDeclarations so later reads resolve."""
        nid = self.node(path, "BinaryOperator", "=", _loc(stmt),
                        props={"operator": "="})
        rhs_id = None
        if value is not None:
            rhs_id, _ = self.handle_expression(value, path + ".r")
            self.ast_edge(nid, rhs_id, "RHS", 0)
            self.edge(rhs_id, "DFG", nid)
        ile = self.node(path + ".l", "InitializerListExpression", "",
                        _loc(target))
        self.ast_edge(nid, ile, "LHS", 0)
        for i, el in enumerate(target.elts):
            el2 = el.value if isinstance(el, ast.Starred) else el
            tid = self._write_target(el2, f"{path}.l[{i}]", None)
            if tid is not None:
                self.ast_edge(ile, tid, "INITIALIZERS", i)
                if rhs_id is not None:
                    self.edge(rhs_id, "DFG", tid)
        return nid, {"kind": "plain", "nid": nid}, False

    def _write_target(self, t, tpath, rtype):
        """One written-to target: fresh Name -> declared
        VariableDeclaration; anything else -> write-access expression."""
        if isinstance(t, ast.Name) and self.resolve(t.id) is None:
            vid = self.node(tpath, "VariableDeclaration", t.id, _loc(t))
            if rtype:
                self.eval_type(vid, rtype)
            self.declare(t.id, vid, "var", rtype)
            return vid
        tid, _ = self.handle_expression(t, tpath, access="write")
        return tid

    def _new_field(self, name, value, stmt, path, member: bool):
        rhs_id = rtype = None
        if value is not None:
            rhs_id, rmeta = self.handle_expression(value, path + ".r")
            rtype = rmeta.get("type")
            if member and isinstance(value, ast.Name):
                # the reference explicitly resolves the rhs reference here
                # (_statements.py:590-593) — our pending-ref machinery
                # already covers it
                pass
        fid = self.node(path, "FieldDeclaration", name, _loc(stmt))
        if rhs_id is not None:
            self.ast_edge(fid, rhs_id, "INITIALIZER", 0)
            self.edge(rhs_id, "DFG", fid)
        if rtype:
            self.eval_type(fid, rtype)
        rec = self.current_record()
        if rec is not None and rec.name in self.records:
            r = self.records[rec.name]
            r["fields"][name] = fid
            self.edge(r["decl_id"], "FIELDS", fid, {"index": len(r["fields"]) - 1})
        # fields are declared in the record scope
        for s in reversed(self.scopes):
            if s.kind == "record":
                s.decls[name] = {"decl_id": fid, "kind": "field", "type": rtype}
                break
        return fid, {"kind": "plain", "nid": fid}, True

    # --------------------------------------------------------- expressions
    def handle_expression(self, expr, path, access: str = "read"):
        """Returns (node_id, meta) where meta has 'kind', 'name', 'type'."""
        loc = _loc(expr)
        if self.parity and isinstance(expr, _EXPR_GAPS):
            # reference parity: NOT_IMPLEMENTED -> empty Expression dummy
            # (_expressions.py:46-139)
            nid = self.node(path, "Expression", "", loc, code="")
            return nid, {"kind": "gap", "name": "", "type": None}
        if isinstance(expr, ast.BinOp):
            op = _BINOP.get(type(expr.op), "")
            nid = self.node(path, "BinaryOperator", op, loc, props={"operator": op})
            lid, lmeta = self.handle_expression(expr.left, path + ".l")
            rid, rmeta = self.handle_expression(expr.right, path + ".r")
            self.ast_edge(nid, lid, "LHS", 0)
            self.ast_edge(nid, rid, "RHS", 0)
            # operand DFG into the operator (BinaryOperator.java:110,152-165)
            self.edge(lid, "DFG", nid)
            self.edge(rid, "DFG", nid)
            t = lmeta.get("type") if lmeta.get("type") == rmeta.get("type") else None
            if t:
                self.eval_type(nid, t)
            return nid, {"kind": "binop", "name": op, "type": t}
        if isinstance(expr, ast.Compare):
            if len(expr.ops) != 1 or len(expr.comparators) != 1:
                if self.parity or not expr.ops:
                    nid = self.node(path, "BinaryOperator", "DUMMY", loc,
                                    props={"operator": "DUMMY"})
                    return nid, {"kind": "binop", "name": "DUMMY", "type": None}
                # fidelity: `a < b < c` desugars to `(a < b) and (b < c)`
                # — pairwise comparisons left-folded with `and` (middle
                # operands re-emitted per pair under distinct paths)
                lefts = [expr.left] + list(expr.comparators[:-1])
                acc = None
                for i, (l, op_, r) in enumerate(
                        zip(lefts, expr.ops, expr.comparators)):
                    opc = _CMPOP.get(type(op_), "DUMMY")
                    last = i == len(expr.ops) - 1
                    ppath = f"{path}.cmp[{i}]"
                    pnid = self.node(ppath, "BinaryOperator", opc, loc,
                                     props={"operator": opc})
                    lid, _ = self.handle_expression(l, ppath + ".l")
                    rid, _ = self.handle_expression(r, ppath + ".r")
                    self.ast_edge(pnid, lid, "LHS", 0)
                    self.ast_edge(pnid, rid, "RHS", 0)
                    self.edge(lid, "DFG", pnid)
                    self.edge(rid, "DFG", pnid)
                    if acc is None:
                        acc = pnid
                    else:
                        anid = self.node(path if last else f"{path}.and[{i}]",
                                         "BinaryOperator", "and", loc,
                                         props={"operator": "and"})
                        self.ast_edge(anid, acc, "LHS", 0)
                        self.ast_edge(anid, pnid, "RHS", 0)
                        self.edge(acc, "DFG", anid)
                        self.edge(pnid, "DFG", anid)
                        acc = anid
                return acc, {"kind": "binop", "name": "and", "type": "bool"}
            op = _CMPOP.get(type(expr.ops[0]))
            if op is None:
                nid = self.node(path, "BinaryOperator", "DUMMY", loc,
                                props={"operator": "DUMMY"})
                return nid, {"kind": "binop", "name": "DUMMY", "type": None}
            nid = self.node(path, "BinaryOperator", op, loc, props={"operator": op})
            lid, _ = self.handle_expression(expr.left, path + ".l")
            rid, _ = self.handle_expression(expr.comparators[0], path + ".r")
            self.ast_edge(nid, lid, "LHS", 0)
            self.ast_edge(nid, rid, "RHS", 0)
            self.edge(lid, "DFG", nid)
            self.edge(rid, "DFG", nid)
            return nid, {"kind": "binop", "name": op, "type": "bool"}
        if isinstance(expr, ast.IfExp):
            nid = self.node(path, "ConditionalExpression", "", loc)
            cid, _ = self.handle_expression(expr.test, path + ".c")
            tid, _ = self.handle_expression(expr.body, path + ".t")
            eid, _ = self.handle_expression(expr.orelse, path + ".e")
            self.ast_edge(nid, cid, "CONDITION", 0)
            self.ast_edge(nid, tid, "THEN_EXPR", 0)
            self.ast_edge(nid, eid, "ELSE_EXPR", 0)
            # both branches flow into the expression
            # (ConditionalExpression.java:73-89)
            self.edge(tid, "DFG", nid)
            self.edge(eid, "DFG", nid)
            return nid, {"kind": "conditional", "name": "", "type": None}
        if isinstance(expr, ast.Dict):
            nid = self.node(path, "InitializerListExpression", "", loc)
            for i in range(len(expr.keys)):
                kv = self.node(f"{path}.kv[{i}]", "KeyValueExpression", "", loc)
                if expr.keys[i] is not None:
                    kid, _ = self.handle_expression(expr.keys[i], f"{path}.k[{i}]")
                    self.ast_edge(kv, kid, "KEY", 0)
                if expr.values[i] is not None:
                    vid, _ = self.handle_expression(expr.values[i], f"{path}.v[{i}]")
                    self.ast_edge(kv, vid, "VALUE", 0)
                    # KeyValueExpression.kt:53 — value flows into the kv expr
                    self.edge(vid, "DFG", kv)
                self.ast_edge(nid, kv, "INITIALIZERS", i)
                self.edge(kv, "DFG", nid)
            return nid, {"kind": "ile", "name": "", "type": None}
        if isinstance(expr, (ast.List, ast.Tuple)):
            nid = self.node(path, "InitializerListExpression", "", loc)
            for i, el in enumerate(expr.elts):
                eid, _ = self.handle_expression(el, f"{path}[{i}]")
                self.ast_edge(nid, eid, "INITIALIZERS", i)
                # InitializerListExpression.java:81
                self.edge(eid, "DFG", nid)
            return nid, {"kind": "ile", "name": "", "type": None}
        if isinstance(expr, ast.Await):
            # parsed transparently; the await itself is lost
            # (_expressions.py:126-131)
            return self.handle_expression(expr.value, path)
        if isinstance(expr, ast.Call):
            return self.handle_call(expr, path)
        if isinstance(expr, ast.Constant):
            t = _const_type(expr.value)
            nid = self.node(path, "Literal", str(expr.value), loc,
                            props={"value": repr(expr.value)})
            if t:
                self.eval_type(nid, t)
            return nid, {"kind": "literal", "name": str(expr.value), "type": t}
        if isinstance(expr, ast.Attribute):
            bid, bmeta = self.handle_expression(expr.value, path + ".b")
            nid = self.node(path, "MemberExpression", expr.attr, loc)
            self.ast_edge(nid, bid, "BASE", 0)
            self.pending_members.append(
                (nid, expr.attr, bmeta.get("name"), list(self.scopes), None, access))
            return nid, {"kind": "member", "name": expr.attr,
                         "base_id": bid, "base_name": bmeta.get("name"), "type": None}
        if isinstance(expr, ast.Subscript):
            nid = self.node(path, "ArraySubscriptionExpression", "", loc)
            vid, _ = self.handle_expression(expr.value, path + ".v")
            self.ast_edge(nid, vid, "ARRAY_EXPRESSION", 0)
            # ArraySubscriptionExpression.java:60 — array flows to subscript
            self.edge(vid, "DFG", nid)
            if not isinstance(expr.slice, ast.Slice) or not self.parity:
                sid, _ = self.handle_expression(expr.slice, path + ".s")
                self.ast_edge(nid, sid, "SUBSCRIPT_EXPRESSION", 0)
            else:
                sid = self.node(path + ".s", "Expression", "", _loc(expr.slice), code="")
                self.ast_edge(nid, sid, "SUBSCRIPT_EXPRESSION", 0)
            return nid, {"kind": "subscript", "name": "", "type": None}
        if isinstance(expr, ast.Name):
            nid = self.node(path, "DeclaredReferenceExpression", expr.id, loc)
            self.pending_refs.append((nid, expr.id, list(self.scopes), access))
            return nid, {"kind": "ref", "name": expr.id, "type": None}
        handled = self._expr_fidelity(expr, path, loc)
        if handled is not None:
            return handled
        nid = self.node(path, "Expression", "", loc, code="")
        return nid, {"kind": "gap", "name": "", "type": None}

    # ------------------------------------------ full-fidelity expressions
    def _expr_fidelity(self, expr, path, loc):
        """Real node models for the reference's NOT_IMPLEMENTED expressions
        (round 5, VERDICT item 1).  Only reached with ``parity_mode=False``
        (the parity gate at the top of handle_expression short-circuits
        first).  Returns None for genuinely unmodeled kinds."""
        if isinstance(expr, ast.BoolOp):
            # `a and b and c` -> left-folded BinaryOperator chain; the
            # operands DFG into each operator (BinaryOperator.java:110)
            op = "and" if isinstance(expr.op, ast.And) else "or"
            acc, _ = self.handle_expression(expr.values[0], path + ".v[0]")
            n = len(expr.values)
            for i in range(1, n):
                vid, _ = self.handle_expression(expr.values[i],
                                                f"{path}.v[{i}]")
                npath = path if i == n - 1 else f"{path}.op[{i}]"
                nid = self.node(npath, "BinaryOperator", op, loc,
                                props={"operator": op})
                self.ast_edge(nid, acc, "LHS", 0)
                self.ast_edge(nid, vid, "RHS", 0)
                self.edge(acc, "DFG", nid)
                self.edge(vid, "DFG", nid)
                acc = nid
            return acc, {"kind": "binop", "name": op, "type": None}
        if isinstance(expr, ast.UnaryOp):
            op = _UNOP.get(type(expr.op), "")
            nid = self.node(path, "UnaryOperator", op, loc,
                            props={"operator": op})
            iid, imeta = self.handle_expression(expr.operand, path + ".i")
            self.ast_edge(nid, iid, "INPUT", 0)
            self.edge(iid, "DFG", nid)  # UnaryOperator.java input DFG
            t = "bool" if isinstance(expr.op, ast.Not) else imeta.get("type")
            if t:
                self.eval_type(nid, t)
            return nid, {"kind": "unary", "name": op, "type": t}
        if isinstance(expr, ast.NamedExpr):
            # walrus `(x := v)` -> '=' BinaryOperator; an unresolved target
            # forward-declares an implicit VariableDeclaration so the
            # write-reference (and later reads) resolve
            if (isinstance(expr.target, ast.Name)
                    and self.resolve(expr.target.id) is None):
                vid = self.node(path + ".decl", "VariableDeclaration",
                                expr.target.id, _loc(expr.target),
                                is_implicit=True)
                self.declare(expr.target.id, vid, "var", None)
            nid = self.node(path, "BinaryOperator", "=", loc,
                            props={"operator": "="})
            lid, _ = self.handle_expression(expr.target, path + ".l",
                                            access="write")
            rid, rmeta = self.handle_expression(expr.value, path + ".r")
            self.ast_edge(nid, lid, "LHS", 0)
            self.ast_edge(nid, rid, "RHS", 0)
            self.edge(rid, "DFG", lid)
            self.edge(rid, "DFG", nid)
            return nid, {"kind": "binop", "name": "=",
                         "type": rmeta.get("type")}
        if isinstance(expr, ast.Lambda):
            # LambdaExpression wrapping an implicit FunctionDeclaration —
            # the same node model every other frontend emits
            # (LambdaExpression.kt:40-56: FUNCTION child, fn DFG-> lambda)
            lam = self.node(path, "LambdaExpression", "", loc)
            fid = self.node(path + ".fn", "FunctionDeclaration", "", loc,
                            is_implicit=True)
            self.ast_edge(lam, fid, "FUNCTION", 0)
            self.edge(fid, "DFG", lam)
            self.enter_scope("function", "", fid)
            self._emit_params(fid, expr.args, path + ".fn")
            bid, _ = self.handle_expression(expr.body, path + ".fn.body")
            self.ast_edge(fid, bid, "BODY", 0)
            self.edge(bid, "DFG", fid)  # implicit return value
            self.leave_scope()
            return lam, {"kind": "lambda", "name": "", "type": None}
        if isinstance(expr, ast.Set):
            nid = self.node(path, "InitializerListExpression", "", loc)
            for i, el in enumerate(expr.elts):
                eid, _ = self.handle_expression(el, f"{path}[{i}]")
                self.ast_edge(nid, eid, "INITIALIZERS", i)
                self.edge(eid, "DFG", nid)
            return nid, {"kind": "ile", "name": "", "type": "set"}
        if isinstance(expr, (ast.ListComp, ast.SetComp, ast.GeneratorExp,
                             ast.DictComp)):
            return self._handle_comprehension(expr, path, loc)
        if isinstance(expr, (ast.Yield, ast.YieldFrom)):
            # value flows to the yield AND to the enclosing function,
            # mirroring the ReturnStatement DFG convention
            op = "yield from" if isinstance(expr, ast.YieldFrom) else "yield"
            nid = self.node(path, "UnaryOperator", op, loc,
                            props={"operator": op})
            if expr.value is not None:
                vid, _ = self.handle_expression(expr.value, path + ".v")
                self.ast_edge(nid, vid, "INPUT", 0)
                self.edge(vid, "DFG", nid)
                fn = self.current_function()
                if fn is not None and fn.node_id:
                    self.edge(vid, "DFG", fn.node_id)
            return nid, {"kind": "unary", "name": op, "type": None}
        if isinstance(expr, ast.FormattedValue):
            # `{x}` inside an f-string is a str conversion — the same
            # CastExpression model the reference uses for str(x)
            # (_expressions.py str() special case)
            nid = self.node(path, "CastExpression", "str", loc)
            eid, _ = self.handle_expression(expr.value, path + ".v")
            self.ast_edge(nid, eid, "EXPRESSION", 0)
            self.eval_type(nid, "str")
            self.edge(eid, "DFG", nid)
            return nid, {"kind": "cast", "name": "str", "type": "str"}
        if isinstance(expr, ast.JoinedStr):
            # f-string -> left-folded '+' concatenation of its pieces
            parts = []
            for i, v in enumerate(expr.values):
                pid, _ = self.handle_expression(v, f"{path}.s[{i}]")
                parts.append(pid)
            if not parts:
                nid = self.node(path, "Literal", "", loc, props={"value": "''"})
                self.eval_type(nid, "str")
                return nid, {"kind": "literal", "name": "", "type": "str"}
            acc = parts[0]
            for i in range(1, len(parts)):
                npath = path if i == len(parts) - 1 else f"{path}.cat[{i}]"
                nid = self.node(npath, "BinaryOperator", "+", loc,
                                props={"operator": "+"})
                self.ast_edge(nid, acc, "LHS", 0)
                self.ast_edge(nid, parts[i], "RHS", 0)
                self.edge(acc, "DFG", nid)
                self.edge(parts[i], "DFG", nid)
                self.eval_type(nid, "str")
                acc = nid
            return acc, {"kind": "binop", "name": "+", "type": "str"}
        if isinstance(expr, ast.Starred):
            nid = self.node(path, "UnaryOperator", "*", loc,
                            props={"operator": "*"})
            iid, _ = self.handle_expression(expr.value, path + ".i")
            self.ast_edge(nid, iid, "INPUT", 0)
            self.edge(iid, "DFG", nid)
            return nid, {"kind": "unary", "name": "*", "type": None}
        if isinstance(expr, ast.Slice):
            # `lo:hi:step` -> ArrayRangeExpression with FLOOR/CEILING
            # (+ STEP) children — the C-family GNU range-designator model
            # (expressions/ArrayRangeExpression.java)
            nid = self.node(path, "ArrayRangeExpression", "", loc)
            if expr.lower is not None:
                lid, _ = self.handle_expression(expr.lower, path + ".lo")
                self.ast_edge(nid, lid, "FLOOR", 0)
            if expr.upper is not None:
                uid, _ = self.handle_expression(expr.upper, path + ".hi")
                self.ast_edge(nid, uid, "CEILING", 0)
            if expr.step is not None:
                sid, _ = self.handle_expression(expr.step, path + ".st")
                self.ast_edge(nid, sid, "STEP", 0)
            return nid, {"kind": "range", "name": "", "type": None}
        return None

    def _handle_comprehension(self, expr, path, loc):
        """Comprehensions own a scope (PEP 572 semantics): each generator
        declares its target variable(s), fed by the iterable's DFG; the
        element expression evaluates inside that scope.  Node model:
        CollectionComprehension{COMPREHENSION_EXPRESSIONS ->
        ComprehensionExpression{VARIABLE, ITERABLE, PREDICATE}*,
        STATEMENT -> element} — the vocabulary of the reference project's
        own later public revisions."""
        kinds = {ast.ListComp: "list", ast.SetComp: "set",
                 ast.DictComp: "dict", ast.GeneratorExp: None}
        ctype = kinds.get(type(expr))
        nid = self.node(path, "CollectionComprehension", "", loc)
        if ctype:
            self.eval_type(nid, ctype)
        self.enter_scope("block", "", nid)
        for gi, gen in enumerate(expr.generators):
            gpath = f"{path}.g[{gi}]"
            ce = self.node(gpath, "ComprehensionExpression", "", loc)
            self.ast_edge(nid, ce, "COMPREHENSION_EXPRESSIONS", gi)
            iid, _ = self.handle_expression(gen.iter, gpath + ".iter")
            self.ast_edge(ce, iid, "ITERABLE", 0)
            tgts = ([gen.target] if not isinstance(gen.target,
                                                   (ast.Tuple, ast.List))
                    else list(gen.target.elts))
            for ti, t in enumerate(tgts):
                t2 = t.value if isinstance(t, ast.Starred) else t
                if isinstance(t2, ast.Name):
                    vid = self.node(f"{gpath}.v[{ti}]", "VariableDeclaration",
                                    t2.id, _loc(t2))
                    self.ast_edge(ce, vid, "VARIABLE", ti)
                    self.edge(iid, "DFG", vid)
                    self.declare(t2.id, vid, "var", None)
            for pi, p in enumerate(gen.ifs):
                pid, _ = self.handle_expression(p, f"{gpath}.if[{pi}]")
                self.ast_edge(ce, pid, "PREDICATE", pi)
        if isinstance(expr, ast.DictComp):
            kv = self.node(path + ".kv", "KeyValueExpression", "", loc)
            kid, _ = self.handle_expression(expr.key, path + ".k")
            vid, _ = self.handle_expression(expr.value, path + ".v")
            self.ast_edge(kv, kid, "KEY", 0)
            self.ast_edge(kv, vid, "VALUE", 0)
            self.edge(vid, "DFG", kv)
            self.ast_edge(nid, kv, "STATEMENT", 0)
            self.edge(kv, "DFG", nid)
        else:
            eid, _ = self.handle_expression(expr.elt, path + ".elt")
            self.ast_edge(nid, eid, "STATEMENT", 0)
            self.edge(eid, "DFG", nid)
        self.leave_scope()
        return nid, {"kind": "comprehension", "name": "", "type": ctype}

    # --------------------------------------------------------------- calls
    def handle_call(self, expr, path):
        """_expressions.py:176-232: member call / constructor / str() cast /
        plain call discrimination."""
        loc = _loc(expr)
        func = expr.func
        if isinstance(func, ast.Attribute):
            # member call: base kept, fresh member reference
            bid, bmeta = self.handle_expression(func.value, path + ".b")
            name = func.attr
            mid = self.node(path + ".m", "DeclaredReferenceExpression", name,
                            _loc(func))
            nid = self.node(path, "MemberCallExpression", name, loc,
                            props={"fqn": f"{bmeta.get('name')}.{name}"})
            self.ast_edge(nid, bid, "BASE", 0)
            self.ast_edge(nid, mid, "MEMBER", 0)
            args = self._handle_args(expr, nid, path)
            self.pending_members.append(
                (nid, name, bmeta.get("name"), list(self.scopes), args, "call"))
            return nid, {"kind": "member_call", "name": name, "type": None}
        if isinstance(func, ast.Name):
            name = func.id
            record = self.records.get(name)
            # NB: parse-time record check, order-dependent exactly like the
            # reference (scopemanager.getRecordForName at _expressions.py:202)
            if record is not None:
                nid = self.node(path, "ConstructExpression", name, loc)
                self.eval_type(nid, name)
                self.edge(nid, "INSTANTIATES", record["decl_id"])
                args = self._handle_args(expr, nid, path)
                if record["ctors"]:
                    ctor = record["ctors"][0]
                    self.edge(nid, "CONSTRUCTOR", ctor)
                    self._dfg_args_to_params(args, ctor)
                return nid, {"kind": "construct", "name": name, "type": name}
            if name == "str" and len(expr.args) == 1 and not expr.keywords:
                nid = self.node(path, "CastExpression", "str", loc)
                eid, _ = self.handle_expression(expr.args[0], path + ".a[0]")
                self.ast_edge(nid, eid, "EXPRESSION", 0)
                self.eval_type(nid, "str")
                # CastExpression.java:60
                self.edge(eid, "DFG", nid)
                return nid, {"kind": "cast", "name": "str", "type": "str"}
            nid = self.node(path, "CallExpression", name, loc, props={"fqn": name})
            args = self._handle_args(expr, nid, path)
            self.pending_calls.append((nid, name, list(self.scopes), args))
            return nid, {"kind": "call", "name": name, "type": None}
        # exotic callee (call-of-call etc.): parse it, name is empty
        self.handle_expression(func, path + ".f")
        nid = self.node(path, "CallExpression", "", loc, props={"fqn": ""})
        self._handle_args(expr, nid, path)
        return nid, {"kind": "call", "name": "", "type": None}

    def _handle_args(self, expr, call_id, path):
        """ARGUMENTS edges with index, and NAME prop for keyword args —
        reference ``call.addArgument(..., keyword.arg)`` sets the NAME edge
        property asserted by PythonFrontendTest.kt:141-143."""
        args = []
        idx = 0
        for a in expr.args:
            aid, _ = self.handle_expression(a, f"{path}.a[{idx}]")
            self.edge(call_id, "ARGUMENTS", aid, {"index": idx})
            self.ast_edge(call_id, aid, "ARGUMENTS", idx)
            args.append({"arg_id": aid, "kw": None, "index": idx})
            idx += 1
        for kw in expr.keywords:
            if kw.arg is None:
                # `f(**d)`: NOT_IMPLEMENTED in the reference; fidelity
                # parses the mapping so its references resolve (tagged
                # '**' so arity gates treat it as keyword-ish)
                if not self.parity:
                    aid, _ = self.handle_expression(kw.value,
                                                    f"{path}.a[{idx}]")
                    self.edge(call_id, "ARGUMENTS", aid, {"index": idx})
                    self.ast_edge(call_id, aid, "ARGUMENTS", idx)
                    args.append({"arg_id": aid, "kw": "**", "index": idx})
                    idx += 1
                continue
            aid, _ = self.handle_expression(kw.value, f"{path}.a[{idx}]")
            self.edge(call_id, "ARGUMENTS", aid, {"index": idx, "name": kw.arg})
            self.ast_edge(call_id, aid, "ARGUMENTS", idx)
            args.append({"arg_id": aid, "kw": kw.arg, "index": idx})
            idx += 1
        return args

    # ------------------------------------------------ deferred resolution
    def _unresolved_member_ref(self, mid, attr, base_type, rec, scopes):
        if rec is None:
            super()._unresolved_member_ref(mid, attr, base_type, rec, scopes)
            return
        # known record, unknown member -> inferred field
        # (VariableUsageResolver.java:409-452), deterministic id
        iid = inferred_id("FieldDeclaration", attr, container=base_type)
        if attr not in rec["fields"]:
            self.out.nodes.append({
                "node_id": iid, "label": "FieldDeclaration",
                "name": attr, "code": None, "doc_id": self.doc_id,
                "span_offset": self.span_offset, "loc": None,
                "is_inferred": True, "is_implicit": False,
                "argument_index": None, "props": {},
            })
            rec["fields"][attr] = iid
            self.edge(rec["decl_id"], "FIELDS", iid)
        self.edge(mid, "REFERS_TO", rec["fields"][attr])

    def _find_method(self, rec, name, _depth=0):
        if rec is None or _depth > 16:
            return None
        if name in rec["methods"]:
            return rec["methods"][name][0]
        for sup in rec["supers"]:
            r = self._find_method(self.records.get(sup), name, _depth + 1)
            if r is not None:
                return r
        return None

    def _find_field(self, rec, name, _depth=0):
        if rec is None or _depth > 16:
            return None
        if name in rec["fields"]:
            return rec["fields"][name]
        for sup in rec["supers"]:
            r = self._find_field(self.records.get(sup), name, _depth + 1)
            if r is not None:
                return r
        return None

    # --------------------------------------------------------------- export
    def _export_symbols(self, ns_id):
        """Module-level declarations visible to other documents — the input
        to the global symbol table the linking joins consume (the map-side
        half of the reference's ScopeManager.mergeFrom,
        TranslationManager.kt:293)."""
        mod_scope = None
        for s in self.scopes:
            if s.kind == "module":
                mod_scope = s
        # scopes are popped by now; recompute from emitted info instead
        for fid, info in self._functions_by_id.items():
            self.out.symbols.append({
                "decl_id": fid,
                "kind": "method" if info.get("record") else "function",
                "name": info["name"],
                "fqn": (f"{self.module_name}.{info['record']}.{info['name']}"
                        if info.get("record")
                        else f"{self.module_name}.{info['name']}"),
                "record": info.get("record"),
                "module": self.module_name,
                "doc_id": self.doc_id,
                "n_params": info["n_params"],
                "n_defaults": info.get("n_defaults", 0),
                "is_variadic": info.get("is_variadic", False),
                "param_types": info.get("param_types"),
                "param_ids": info["param_ids"],
                "param_names": info["param_names"],
            })
        for rname, rec in self.records.items():
            self.out.symbols.append({
                "decl_id": rec["decl_id"], "kind": "record", "name": rname,
                "fqn": f"{self.module_name}.{rname}", "record": None,
                "module": self.module_name, "doc_id": self.doc_id,
                "n_params": None, "has_defaults": None, "is_variadic": None,
                "param_ids": None, "param_names": None,
            })
            for fname, fid in rec["fields"].items():
                self.out.symbols.append({
                    "decl_id": fid, "kind": "field", "name": fname,
                    "fqn": f"{self.module_name}.{rname}.{fname}", "record": rname,
                    "module": self.module_name, "doc_id": self.doc_id,
                    "n_params": None, "has_defaults": None, "is_variadic": None,
                    "param_ids": None, "param_names": None,
                })
        # module-level variables (importable declarations — the dimension
        # side of the cross-document REFERS_TO join, ImportResolver.java:62-120)
        for vname, d in getattr(self, "_module_decls", {}).items():
            if d["kind"] == "var":
                self.out.symbols.append({
                    "decl_id": d["decl_id"], "kind": "var", "name": vname,
                    "fqn": f"{self.module_name}.{vname}", "record": None,
                    "module": self.module_name, "doc_id": self.doc_id,
                    "n_params": None, "has_defaults": None, "is_variadic": None,
                    "param_ids": None, "param_names": None,
                })


def parse_python_document(doc_id: str, span_offset: int, source: str,
                          module_name: str | None = None,
                          parity_mode: bool = False) -> DocGraph:
    """Parse one python code span into CPG rows.  Parse errors yield a
    ProblemDeclaration node (the reference's error placeholder) instead of
    failing the batch.

    ``parity_mode=True`` reproduces the reference's NOT_IMPLEMENTED gap
    matrix verbatim (the P/R oracle anchor); the default models every
    gapped construct with real nodes (round 5, VERDICT item 1)."""
    return parse_span(PythonFrontend, doc_id, span_offset, source,
                      module_name, (SyntaxError,), parity_mode=parity_mode)
