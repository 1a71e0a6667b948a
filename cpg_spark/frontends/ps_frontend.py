"""PowerShell frontend (SURVEY F7): tokenizer + recursive descent over the
PowerShell subset the reference's experimental module exercises
(``cpg-language-powershell/src/test/resources/powershell/*.ps1``, asserted
by ``PowerShellFrontendTest.kt``; the reference bridges to a pwsh
subprocess AST dump — no pwsh toolchain exists here, so the same surface
is parsed directly):

* ``$x = expr``                 -> VariableDeclaration on first assignment
  (type inferred from the initializer: int / float / String / Object[] /
  Object, PowerShellFrontendTest.testLiteral), DeclaredReferenceExpression
  + write DFG afterwards
* ``function f { param(...) }`` / ``function f($a, $b) {}``
                                -> FunctionDeclaration (+ typed params)
* command calls ``Write-Host $a 5`` with bare / parenthesized /
  comma-array arguments -> CallExpression; ``-name value`` named
  arguments are re-ordered to the DECLARED parameter position when the
  callee is a known local function (testFunctionDeclaration asserts
  argumentIndex follows the param order, not the textual order)
* ``@(a, b, c)`` array literal  -> InitializerListExpression (Object[])
* ``[Int]50`` cast              -> CastExpression + EVAL_TYPE
* ``{ ... }`` scriptblock value -> LambdaExpression wrapping an implicit
  FunctionDeclaration (cmdletUsage.ps1)
* if / elseif / else, for, while, do-while, do-until (condition wrapped
  in an implicit ``!`` UnaryOperator, testLoops), foreach ($v in $xs),
  switch (value cases -> CaseStatement + body, testSwitch), try /
  catch [Type] / finally (testTryCatch), return, break, continue
* operators: ``-eq -ne -lt -gt -le -ge -and -or -not -like -match
  -contains -in`` keep their PowerShell spelling as the operator name;
  assignment ``= += -= *= /=`` uses the symbol itself (this engine's
  uniform convention across frontends — the reference renames ``=`` to
  ``Equals`` / ``-=`` to ``MinusEquals``, a display quirk only)

Statements are newline-terminated (Go-style ASI); an inserted terminator
is retracted when the next line continues with ``{`` ``.`` ``|`` or a
binary operator, so ``Try\\n{`` and pipeline continuations parse.
Anything outside the subset degrades to Expression placeholder nodes.
"""

from __future__ import annotations

import re

from cpg_spark.frontends.base import DocGraph, Tok, TokenFrontend, parse_span
from cpg_spark.frontends.eog import build_eog

# control keywords, lower-cased (PowerShell keywords are case-insensitive)
_KEYWORDS = {
    "if", "elseif", "else", "for", "foreach", "while", "do", "until",
    "switch", "function", "param", "return", "break", "continue", "try",
    "catch", "finally", "in", "default", "throw",
}

# `-word` comparison / logical operators (about_Comparison_Operators)
_FLAG_OPS = {
    "eq", "ne", "lt", "gt", "le", "ge", "and", "or", "not", "xor",
    "like", "notlike", "match", "notmatch", "contains", "notcontains",
    "in", "notin", "is", "isnot", "band", "bor",
}

_ASI_AFTER = {"var", "ident", "int", "float", "string", ")", "]", "}",
              "++", "--"}
# a line starting with one of these CONTINUES the previous statement
_CHAIN_START = {"{", ".", "|", "+", "-", "*", "/", "=", ",", "-eq", "-ne",
                "-lt", "-gt", "-le", "-ge", "-and", "-or"}

_TOKEN_RE = re.compile(
    r"""
      (?P<comment>\#[^\n]*|<\#.*?\#>)
    | (?P<string>"(?:`.|""|[^"`])*"|'(?:''|[^'])*')
    | (?P<var>\$[A-Za-z_][A-Za-z0-9_]*(?::[A-Za-z_][A-Za-z0-9_]*)?|\$\{[^}]*\})
    | (?P<float>\d+\.\d+(?:[eE][+-]?\d+)?)
    | (?P<int>0[xX][0-9a-fA-F]+|\d+)
    | (?P<flag>-[A-Za-z][A-Za-z0-9]*)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*(?:-[A-Za-z][A-Za-z0-9_]*)*)
    | (?P<op>\+\+|--|\+=|-=|\*=|/=|%=|::|\.\.|[+\-*/%=!<>|&?:.,;(){}\[\]@])
    | (?P<nl>\n)
    | (?P<ws>[ \t\r]+)
    """,
    re.VERBOSE | re.DOTALL,
)

# `-lt` etc. bind looser than arithmetic (about_Operator_Precedence)
_PREC = {
    "-or": 1, "-xor": 1, "-and": 2,
    "-eq": 3, "-ne": 3, "-lt": 3, "-gt": 3, "-le": 3, "-ge": 3,
    "-like": 3, "-notlike": 3, "-match": 3, "-notmatch": 3,
    "-contains": 3, "-notcontains": 3, "-in": 3, "-notin": 3,
    "-is": 3, "-isnot": 3, "-band": 3, "-bor": 3,
    "+": 5, "-": 5, "*": 6, "/": 6, "%": 6,
    # range binds tighter than arithmetic (about_Operator_Precedence:
    # `1..3*2` is `(1..3)*2`)
    "..": 7,
}

_ASSIGN_OPS = {"=", "+=", "-=", "*=", "/=", "%="}

# [int] / [string] cast tags -> the reference's canonical type spellings
# (PowerShellFrontendTest.testLiteral / testVars)
_TYPE_CANON = {
    "int": "int", "int32": "int", "int64": "long", "long": "long",
    "string": "String", "float": "float", "double": "float",
    "bool": "bool", "boolean": "bool", "object": "Object",
    "char": "char", "byte": "byte", "decimal": "float",
}


def _canon_type(name: str) -> str:
    return _TYPE_CANON.get(name.strip().lower(), name.strip() or "Object")


class PsParseError(Exception):
    pass


def tokenize(src: str) -> list[Tok]:
    toks: list[Tok] = []
    line, col = 1, 0
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            pos += 1
            col += 1
            continue
        kind = m.lastgroup
        text = m.group()
        if kind == "nl":
            if toks and toks[-1].kind != ";" and toks[-1].kind in _ASI_AFTER:
                toks.append(Tok(";", ";", line, col))
            line += 1
            col = 0
        elif kind in ("ws", "comment"):
            nls = text.count("\n")
            if nls:
                line += nls
                col = len(text) - text.rfind("\n") - 1
            else:
                col += len(text)
        else:
            if kind == "op" and text == ";":
                kind = ";"
            if kind == "flag" and text[1:].lower() in _FLAG_OPS:
                kind = "psop"
                text = "-" + text[1:].lower()
            # ASI retraction: `{` / `|` / operator at line start continues
            if toks and toks[-1].kind == ";" and toks[-1].text == ";" \
               and text in _CHAIN_START and kind in ("op", "psop"):
                prev = toks[-2] if len(toks) > 1 else None
                if prev is None or prev.text != ";":
                    toks.pop()
            toks.append(Tok(kind, text, line, col))
            nls = text.count("\n")
            if nls:
                line += nls
                col = len(text) - text.rfind("\n") - 1
            else:
                col += len(text)
        pos = m.end()
    toks.append(Tok("eof", "", line, col))
    return toks


class PsFrontend(TokenFrontend):
    """One PowerShell span -> DocGraph rows (mirrors GoFrontend/TsFrontend)."""

    ParseError = PsParseError

    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str):
        super().__init__(doc_id, span_offset, source, module_name,
                         tokenize(source))
        self._paths: dict[str, int] = {}
        self._functions_by_name: dict[str, str] = {}   # lower name -> fid
        self._lambda_n = 0
        self._node_rows: dict[str, dict] = {}          # id -> node row

    # ---------------------------------------------------------- token utils
    def accept_kw(self, word: str) -> Tok | None:
        t = self.peek()
        if t.kind == "ident" and t.text.lower() == word:
            return self.next()
        return None

    def is_kw(self, word: str, k: int = 0) -> bool:
        t = self.peek(k)
        return t.kind == "ident" and t.text.lower() == word

    def _p(self, tag: str) -> str:
        n = self._paths.get(tag, 0)
        self._paths[tag] = n + 1
        return f"{tag}[{n}]" if n else tag

    def _tloc(self, t: Tok):
        return (t.line, t.col, t.line, t.col + len(t.text))

    def node(self, *a, **kw):  # track rows for argument_index back-patching
        nid = super().node(*a, **kw)
        self._node_rows[nid] = self.out.nodes[-1]
        return nid

    def _set_arg_index(self, nid: str, idx: int):
        row = self._node_rows.get(nid)
        if row is not None:
            row["argument_index"] = idx

    # ------------------------------------------------------------------ run
    def run(self) -> DocGraph:
        ns_id = self.node("ns", "NamespaceDeclaration", self.module_name)
        self.enter_scope("module", self.module_name, ns_id)
        infos = []
        while self.peek().kind != "eof":
            self.skip_semis()
            if self.peek().kind == "eof":
                break
            # panic-mode per-declaration recovery: one bad construct ->
            # one located ProblemDeclaration, the rest of the script parses
            pid = self._guard_top(self._top_decl, ns_id, infos)
            if pid is not None:
                self.ast_edge(ns_id, pid, "declarations")
        build_eog(self, ns_id, infos)
        self._resolve_locally()
        self._export_symbols()
        self.leave_scope()
        return self.out

    def _top_decl(self, ns_id: str, infos: list) -> None:
        if self.is_kw("function"):
            fid = self.parse_function(self._p("fn"))
            if fid:
                self.ast_edge(ns_id, fid, "declarations")
            return
        if self.peek().text == "[" and self._at_attributed_param_kw():
            self._param_attributes()  # `[CmdletBinding()]` line
            return
        if self.is_kw("param"):
            self.parse_script_params(ns_id)
            return
        pair = self.parse_stmt(self._p("stmt"))
        if pair is not None:
            self.ast_edge(ns_id, pair[0], "statements")
            infos.append(pair[1])

    def parse_script_params(self, ns_id: str) -> None:
        """Script-level ``param(...)`` — the script's own parameters
        (about_Scripts): ParameterDeclaration rows scoped to the module,
        so ``$Path`` references in the body resolve to them."""
        self.next()  # 'param'
        self.expect("op", "(")
        j = 0
        while not self.accept("op", ")"):
            if self.peek().kind == "eof":
                raise PsParseError("unterminated script param block")
            self.skip_semis()
            if self.peek().text == ")":
                continue
            ptype = self._param_attributes()
            n = self.expect("var")
            pid = self.node(f"sparam[{j}]", "ParameterDeclaration",
                            n.text, loc=self._tloc(n), argument_index=j)
            if ptype:
                self.eval_type(pid, ptype)
            if self.accept("op", "="):
                dflt, _ = self.parse_expr(f"sparam[{j}].default")
                if dflt:
                    self.ast_edge(pid, dflt, "default")
                    self.edge(dflt, "DFG", pid)
            self.ast_edge(ns_id, pid, "parameters", index=j)
            self.declare(n.text, pid, "param", ptype)
            self.accept("op", ",")
            self.skip_semis()
            j += 1
        self.skip_semis()

    # ------------------------------------------------------------ functions
    def parse_function(self, path: str):
        self.next()  # 'function'
        name_t = self.expect("ident")
        if name_t.text.lower() in ("global", "script", "local", "private") \
                and self.peek().kind == "op" and self.peek().text == ":" \
                and self.peek(1).kind == "ident":
            # scope-qualified name `function global:deactivate` — the
            # scope modifier has no CPG weight (about_Scopes)
            self.next()
            name_t = self.next()
        fid = self.node(path, "FunctionDeclaration", name_t.text,
                        loc=self._tloc(name_t))
        self.declare(name_t.text, fid, "function")
        self._functions_by_name[name_t.text.lower()] = fid
        self.enter_scope("function", name_t.text, fid)
        pids, pnames, has_default = [], [], False
        if self.accept("op", "("):  # inline params: function f($a, $b)
            j = 0
            while not self.accept("op", ")"):
                if self.peek().kind == "eof":
                    raise PsParseError("unterminated parameter list")
                self.skip_semis()
                if self.peek().text == ")":
                    continue
                ptype = self._param_attributes()
                n = self.expect("var")
                pid = self.node(f"{path}.param[{j}]", "ParameterDeclaration",
                                n.text, loc=self._tloc(n), argument_index=j)
                if ptype:
                    self.eval_type(pid, ptype)
                if self.accept("op", "="):
                    has_default = True
                    dflt, _ = self.parse_expr(f"{path}.param[{j}].default")
                    if dflt:
                        self.ast_edge(pid, dflt, "default")
                        self.edge(dflt, "DFG", pid)
                self.ast_edge(fid, pid, "parameters", index=j)
                self.declare(n.text, pid, "param", ptype)
                pids.append(pid)
                pnames.append(n.text)
                self.accept("op", ",")
                j += 1
        self.skip_semis()
        self.expect("op", "{")
        self.skip_semis()
        # param(...) block (about_Functions_Advanced_Parameters)
        if self.is_kw("param"):
            self.next()
            self.expect("op", "(")
            j = len(pids)
            while not self.accept("op", ")"):
                if self.peek().kind == "eof":
                    raise PsParseError("unterminated param block")
                self.skip_semis()
                if self.peek().text == ")":
                    continue
                ptype = self._param_attributes()
                n = self.expect("var")
                pid = self.node(f"{path}.param[{j}]", "ParameterDeclaration",
                                n.text, loc=self._tloc(n), argument_index=j)
                if ptype:
                    self.eval_type(pid, ptype)
                if self.accept("op", "="):
                    has_default = True
                    dflt, _ = self.parse_expr(f"{path}.param[{j}].default")
                    if dflt:
                        self.ast_edge(pid, dflt, "default")
                        self.edge(dflt, "DFG", pid)
                self.ast_edge(fid, pid, "parameters", index=j)
                self.declare(n.text, pid, "param", ptype)
                pids.append(pid)
                pnames.append(n.text)
                self.accept("op", ",")
                self.skip_semis()
                j += 1
            self.skip_semis()
        self._functions_by_id[fid] = {
            "name": name_t.text, "record": None, "n_params": len(pids),
            "param_ids": pids, "param_names": pnames,
            "has_defaults": has_default}
        infos = self.parse_block_body(path + ".body", fid)
        build_eog(self, fid, infos)
        self.leave_scope()
        return fid

    def _bracket_type(self) -> str | None:
        """Optional ``[typename]`` attribute before a parameter / operand."""
        if self.peek().text == "[" and self.peek(1).kind == "ident" \
           and self.peek(2).text == "]":
            self.next()
            name = self.next().text
            self.next()
            return _canon_type(name)
        return None

    def _param_attributes(self) -> str | None:
        """Any run of ``[...]`` attribute blocks before a parameter —
        ``[Parameter(Mandatory=$true)]``, ``[ValidateSet(...)]`` — plus
        the optional simple ``[typename]``; only the type survives as
        CPG weight (about_Functions_Advanced_Parameters)."""
        ptype = None
        while True:
            # multi-line attribute stacks: ASI puts `;` after each `]`
            self.skip_semis()
            if self.peek().text != "[":
                break
            got = self._bracket_type()
            if got is not None:
                ptype = got
                continue
            depth = 0
            while self.peek().kind != "eof":
                t = self.next()
                if t.text == "[":
                    depth += 1
                elif t.text == "]":
                    depth -= 1
                    if depth == 0:
                        break
        return ptype

    def _at_attributed_param_kw(self, words=("param",)) -> bool:
        """True when the cursor sits on ``[Attr(...)]...`` blocks whose
        follower is one of ``words`` (e.g. a ``[CmdletBinding()]``
        decoration line before ``param``) — distinguishes attribute
        lines from ``[Math]::Max(...)`` statements."""
        j = self.i
        n = len(self.toks)
        while j < n and self.toks[j].text == "[":
            depth = 0
            while j < n:
                if self.toks[j].text == "[":
                    depth += 1
                elif self.toks[j].text == "]":
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                j += 1
            else:
                return False
            while j < n and self.toks[j].kind == ";":
                j += 1
        return (j < n and self.toks[j].kind == "ident"
                and self.toks[j].text.lower() in words)

    def parse_scriptblock(self, path: str, open_tok: Tok):
        """``{ stmts }`` in expression position -> LambdaExpression
        (cmdletUsage.ps1 ``$sb = {...}``)."""
        self._lambda_n += 1
        lname = f"<scriptblock{self._lambda_n}>"
        lam = self.node(path, "LambdaExpression", lname,
                        loc=self._tloc(open_tok))
        fid = self.node(path + ".fn", "FunctionDeclaration", lname,
                        is_implicit=True)
        self.ast_edge(lam, fid, "function")
        self.enter_scope("function", lname, fid)
        self._functions_by_id[fid] = {
            "name": lname, "record": None, "n_params": 0,
            "param_ids": [], "param_names": [], "has_defaults": False}
        infos = self.parse_block_body(path + ".body", fid)
        build_eog(self, fid, infos)
        self.leave_scope()
        self.edge(fid, "DFG", lam)
        return (lam, "scriptblock")

    # ----------------------------------------------------------- statements
    def parse_block_body(self, path: str, parent: str) -> list[dict]:
        """statements until matching '}' (already consumed '{')."""
        infos = []
        si = 0
        while not self.accept("op", "}"):
            self.skip_semis()
            if self.peek().text == "}":
                continue
            if self.peek().kind == "eof":
                raise PsParseError("unterminated block")
            pair = self.parse_stmt(f"{path}.s[{si}]")
            if pair is not None:
                self.ast_edge(parent, pair[0], "body", index=si)
                infos.append(pair[1])
            si += 1
        return infos

    def parse_stmt(self, path: str):
        t = self.peek()
        if t.kind == "ident":
            kw = t.text.lower()
            if kw == "if":
                return self.parse_if(path)
            if kw == "while":
                return self.parse_while(path)
            if kw == "do":
                return self.parse_do(path)
            if kw == "for":
                return self.parse_for(path)
            if kw == "foreach":
                return self.parse_foreach(path)
            if kw == "switch":
                return self.parse_switch(path)
            if kw == "try":
                return self.parse_try(path)
            if kw == "function":
                fid = self.parse_function(path)
                return (fid, {"kind": "plain", "nid": fid})
            if kw == "return":
                self.next()
                nid = self.node(path, "ReturnStatement", loc=self._tloc(t))
                if self.peek().kind not in (";", "eof") \
                   and self.peek().text != "}":
                    eid, _ = self.parse_expr(path + ".val")
                    if eid:
                        self.ast_edge(nid, eid, "returnValue")
                        self.edge(eid, "DFG", nid)
                self.skip_semis()
                return (nid, {"kind": "return", "nid": nid})
            if kw in ("break", "continue"):
                self.next()
                nid = self.node(path, kw.capitalize() + "Statement",
                                loc=self._tloc(t))
                self.skip_semis()
                return (nid, {"kind": kw, "nid": nid})
            if kw == "throw":
                self.next()
                nid = self.node(path, "ThrowStatement", loc=self._tloc(t))
                if self.peek().kind not in (";", "eof") \
                   and self.peek().text != "}":
                    eid, _ = self.parse_expr(path + ".val")
                    if eid:
                        self.ast_edge(nid, eid, "expression")
                        self.edge(eid, "DFG", nid)
                self.skip_semis()
                return (nid, {"kind": "return", "nid": nid})
        if t.text == "{":
            self.next()
            cid = self.node(path, "CompoundStatement")
            infos = self.parse_block_body(path, cid)
            return (cid, {"kind": "compound", "nid": cid, "stmts": infos})
        eid, _ = self.parse_expr(path)
        self.skip_semis()
        if eid is None:
            return None
        return (eid, {"kind": "plain", "nid": eid})

    def _paren_cond(self, path: str):
        self.expect("op", "(")
        cond, _ = self.parse_expr(path)
        self.accept("op", ")")
        return cond

    def _brace_body(self, path: str, parent: str, fld: str) -> list[dict]:
        self.skip_semis()
        self.expect("op", "{")
        cid = self.node(path, "CompoundStatement")
        self.ast_edge(parent, cid, fld)
        return self.parse_block_body(path, cid)

    def parse_if(self, path: str):
        t = self.next()
        nid = self.node(path, "IfStatement", loc=self._tloc(t))
        cond = self._paren_cond(path + ".cond")
        if cond:
            self.ast_edge(nid, cond, "condition")
            self.edge(cond, "DFG", nid)
        then_infos = self._brace_body(path + ".then", nid, "thenStatement")
        else_infos = None
        self.skip_semis()
        if self.is_kw("elseif"):
            # elseif -> nested IfStatement in the else branch, exactly how
            # the reference's AST shows it (PowerShellFrontendTest.testIf)
            pair = self.parse_if(path + ".elif")
            self.ast_edge(nid, pair[0], "elseStatement")
            else_infos = [pair[1]]
        elif self.accept_kw("else"):
            else_infos = self._brace_body(path + ".else", nid,
                                          "elseStatement")
        return (nid, {"kind": "if", "nid": nid, "cond": cond,
                      "then": then_infos, "orelse": else_infos})

    def parse_while(self, path: str):
        t = self.next()
        nid = self.node(path, "WhileStatement", loc=self._tloc(t))
        cond = self._paren_cond(path + ".cond")
        if cond:
            self.ast_edge(nid, cond, "condition")
            self.edge(cond, "DFG", nid)
        body = self._brace_body(path + ".body", nid, "statement")
        return (nid, {"kind": "while", "nid": nid, "cond": cond,
                      "body": body})

    def parse_do(self, path: str):
        """``do {..} while (c)`` / ``do {..} until (c)`` — an until
        condition is negated with an implicit ``!`` (the reference prints
        the generated code with a leading '!', testLoops)."""
        t = self.next()
        nid = self.node(path, "DoStatement", loc=self._tloc(t))
        body = self._brace_body(path + ".body", nid, "statement")
        self.skip_semis()
        is_until = self.is_kw("until")
        if not (self.accept_kw("while") or self.accept_kw("until")):
            raise PsParseError(f"line {t.line}: do without while/until")
        cond = self._paren_cond(path + ".cond")
        if is_until and cond:
            neg = self.node(path + ".not", "UnaryOperator", "!",
                            is_implicit=True)
            self.ast_edge(neg, cond, "input")
            self.edge(cond, "DFG", neg)
            cond = neg
        if cond:
            self.ast_edge(nid, cond, "condition")
            self.edge(cond, "DFG", nid)
        # EOG shape: body runs at least once, then the condition loops back
        return (nid, {"kind": "while", "nid": nid, "cond": cond,
                      "body": body})

    def parse_for(self, path: str):
        t = self.next()
        nid = self.node(path, "ForStatement", loc=self._tloc(t))
        self.expect("op", "(")
        init_pair = None
        if self.peek().text != ";":
            iid, _ = self.parse_expr(path + ".init")
            if iid:
                self.ast_edge(nid, iid, "initializer")
                init_pair = {"kind": "plain", "nid": iid}
        self.skip_semis()
        cond = None
        if self.peek().text != ";":
            cond, _ = self.parse_expr(path + ".cond")
            if cond:
                self.ast_edge(nid, cond, "condition")
        self.skip_semis()
        post_pair = None
        if self.peek().text != ")":
            pid, _ = self.parse_expr(path + ".update")
            if pid:
                self.ast_edge(nid, pid, "iterationStatement")
                post_pair = {"kind": "plain", "nid": pid}
        self.accept("op", ")")
        body = self._brace_body(path + ".body", nid, "statement")
        return (nid, {"kind": "for", "nid": nid, "init": init_pair,
                      "cond": cond, "post": post_pair, "body": body})

    def parse_foreach(self, path: str):
        t = self.next()
        nid = self.node(path, "ForEachStatement", loc=self._tloc(t))
        self.expect("op", "(")
        n = self.expect("var")
        vid = self.node(path + ".var", "VariableDeclaration", n.text,
                        loc=self._tloc(n))
        self.declare(n.text, vid, "var")
        self.ast_edge(nid, vid, "variable")
        if not self.accept_kw("in"):
            raise PsParseError(f"line {t.line}: foreach without in")
        it, _ = self.parse_expr(path + ".iter")
        if it:
            self.ast_edge(nid, it, "iterable")
            self.edge(it, "DFG", vid)
        self.accept("op", ")")
        body = self._brace_body(path + ".body", nid, "statement")
        return (nid, {"kind": "foreach", "nid": nid, "body": body})

    def parse_switch(self, path: str):
        t = self.next()
        nid = self.node(path, "SwitchStatement", loc=self._tloc(t))
        while self.peek().kind in ("flag", "psop"):
            self.next()  # `switch -Regex/-Wildcard/-CaseSensitive (...)`
        sel = self._paren_cond(path + ".sel")
        if sel:
            self.ast_edge(nid, sel, "selector")
            self.edge(sel, "DFG", nid)
        self.skip_semis()
        self.expect("op", "{")
        comp = self.node(path + ".body", "CompoundStatement")
        self.ast_edge(nid, comp, "statement")
        cases = []
        ci = 0
        while not self.accept("op", "}"):
            self.skip_semis()
            if self.peek().text == "}":
                continue
            if self.peek().kind == "eof":
                raise PsParseError("unterminated switch body")
            is_default = self.is_kw("default")
            lt = self.next()  # case label: literal / ident / default
            cid = self.node(f"{path}.case[{ci}]",
                            "DefaultStatement" if is_default
                            else "CaseStatement",
                            lt.text.strip("'\""), loc=self._tloc(lt))
            self.ast_edge(comp, cid, "statements", index=2 * ci)
            body_cid = self.node(f"{path}.case[{ci}].body",
                                 "CompoundStatement")
            self.ast_edge(comp, body_cid, "statements", index=2 * ci + 1)
            self.skip_semis()
            self.expect("op", "{")
            stmts = self.parse_block_body(f"{path}.case[{ci}].body",
                                          body_cid)
            cases.append({"nid": cid, "stmts": stmts, "default": is_default})
            self.skip_semis()
            ci += 1
        return (nid, {"kind": "switch", "nid": nid, "cond": sel,
                      "cases": cases})

    def parse_try(self, path: str):
        t = self.next()
        nid = self.node(path, "TryStatement", loc=self._tloc(t))
        body = self._brace_body(path + ".body", nid, "tryBlock")
        self.skip_semis()
        ci = 0
        while self.is_kw("catch"):
            self.next()
            type_name = ""
            if self.peek().text == "[":  # [Exception.Type]
                self.next()
                parts = []
                while self.peek().kind != "eof" and self.peek().text != "]":
                    parts.append(self.next().text)
                self.accept("op", "]")
                type_name = "".join(parts)
            cid = self.node(f"{path}.catch[{ci}]", "CatchClause", type_name)
            self.ast_edge(nid, cid, "catchClauses", index=ci)
            if type_name:
                self.eval_type(cid, type_name)
            self.skip_semis()
            self.expect("op", "{")
            self.parse_block_body(f"{path}.catch[{ci}].body", cid)
            self.skip_semis()
            ci += 1
        final = None
        if self.accept_kw("finally"):
            final = self._brace_body(path + ".finally", nid, "finallyBlock")
        return (nid, {"kind": "try", "nid": nid, "body": body,
                      "final": final})

    # ---------------------------------------------------------- expressions
    def parse_expr(self, path: str, min_prec: int = 1):
        """Returns (node_id, inferred_type|None)."""
        lhs = self.parse_unary(path)
        lhs = self._binary_rhs(lhs, path, min_prec)
        if self.peek().text in _ASSIGN_OPS and self.peek().kind == "op":
            op = self.next()
            rhs, rtype = self.parse_expr(path + ".rhs")
            # first plain `=` to an unseen $var declares it
            # (PowerShellFrontendTest.testLiteral type inference)
            if op.text == "=" and len(lhs) > 2 and lhs[2] is not None \
               and self.resolve(lhs[2]) is None:
                name = lhs[2]
                self._drop_pending_ref(lhs[0])
                self._retract_node(lhs[0])
                vid = self.node(path + ".decl", "VariableDeclaration", name,
                                loc=self._tloc(op))
                vtype = rtype or "Object"
                self.eval_type(vid, vtype)
                self.declare(name, vid, "var", vtype)
                if rhs:
                    self.ast_edge(vid, rhs, "initializer")
                    self.edge(rhs, "DFG", vid)
                return (vid, vtype)
            bid = self.node(path + ".assign", "BinaryOperator", op.text,
                            loc=self._tloc(op))
            if lhs[0]:
                self.ast_edge(bid, lhs[0], "lhs")
                self._mark_write(lhs[0])
                if op.text != "=":  # compound: old value feeds the result
                    self.edge(lhs[0], "DFG", bid)
            if rhs:
                self.ast_edge(bid, rhs, "rhs")
                self.edge(rhs, "DFG", bid)
                if lhs[0]:
                    self.edge(rhs, "DFG", lhs[0])
            return (bid, None)
        return lhs[:2]

    def _binary_rhs(self, lhs, path: str, min_prec: int):
        while True:
            t = self.peek()
            op = t.text if t.kind in ("op", "psop") else None
            prec = _PREC.get(op or "", 0)
            if not op or prec < min_prec:
                return lhs
            self.next()
            rhs = self.parse_unary(path + f".r{prec}")
            rhs = self._binary_rhs(rhs, path + f".r{prec}", prec + 1)
            bid = self.node(self._p(path + ".bin"), "BinaryOperator", op,
                            loc=self._tloc(t))
            if lhs[0]:
                self.ast_edge(bid, lhs[0], "lhs")
                self.edge(lhs[0], "DFG", bid)
            if rhs[0]:
                self.ast_edge(bid, rhs[0], "rhs")
                self.edge(rhs[0], "DFG", bid)
            lhs = (bid, None, None)

    def parse_unary(self, path: str):
        t = self.peek()
        if (t.kind == "op" and t.text in ("!", "-", "+", "++", "--")) \
           or (t.kind == "psop" and t.text == "-not"):
            self.next()
            operand = self.parse_unary(path + ".u")
            uid = self.node(self._p(path + ".un"), "UnaryOperator", t.text,
                            loc=self._tloc(t))
            if operand[0]:
                self.ast_edge(uid, operand[0], "input")
                self.edge(operand[0], "DFG", uid)
                if t.text in ("++", "--"):
                    self._mark_write(operand[0])
            return (uid, None, None)
        return self.parse_postfix(path)

    def parse_postfix(self, path: str):
        base = self.parse_operand(path)
        while True:
            t = self.peek()
            if t.text == "." and self.peek(1).kind == "ident":
                self.next()
                sel = self.expect("ident")
                if self.peek().text == "(":
                    mid = self.node(self._p(path + ".mcall"),
                                    "MemberCallExpression", sel.text,
                                    loc=self._tloc(sel))
                    if base[0]:
                        self.ast_edge(mid, base[0], "base")
                        self.edge(base[0], "DFG", mid)
                    self.next()
                    ai = 0
                    while not self.accept("op", ")"):
                        if self.peek().kind == "eof":
                            raise PsParseError("unterminated argument list")
                        eid, _ = self.parse_expr(f"{path}.arg[{ai}]")
                        if eid:
                            self.ast_edge(mid, eid, "arguments", index=ai)
                            self.edge(eid, "DFG", mid)
                        self.accept("op", ",")
                        ai += 1
                    base = (mid, None, None)
                else:
                    mid = self.node(self._p(path + ".mem"),
                                    "MemberExpression", sel.text,
                                    loc=self._tloc(sel))
                    if base[0]:
                        self.ast_edge(mid, base[0], "base")
                        self.edge(base[0], "DFG", mid)
                    base = (mid, None, None)
            elif t.text == "[" and base[0]:
                self.next()
                idx, _ = self.parse_expr(path + ".idx")
                self.accept("op", "]")
                aid = self.node(self._p(path + ".sub"),
                                "ArraySubscriptionExpression")
                if base[0]:
                    self.ast_edge(aid, base[0], "arrayExpression")
                    self.edge(base[0], "DFG", aid)
                if idx:
                    self.ast_edge(aid, idx, "subscriptExpression")
                    self.edge(idx, "DFG", aid)
                base = (aid, None, None)
            elif t.text in ("++", "--"):
                self.next()
                uid = self.node(self._p(path + ".post"), "UnaryOperator",
                                t.text, loc=self._tloc(t))
                if base[0]:
                    self.ast_edge(uid, base[0], "input")
                    self.edge(base[0], "DFG", uid)
                    self._mark_write(base[0])
                base = (uid, None, None)
            else:
                return base

    # one command argument: a comma list collapses into an array
    # (`Write-Host "a", "b", 5` passes ONE Object[] argument)
    def _command_arg(self, path: str):
        first = self.parse_unary(path)
        first = self._binary_rhs(first, path, 5)  # arithmetic only
        if self.peek().text != ",":
            return first[:2]
        aid = self.node(self._p(path + ".arr"), "InitializerListExpression")
        self.eval_type(aid, "Object[]")
        j = 0
        if first[0]:
            self.ast_edge(aid, first[0], "initializers", index=j)
            self.edge(first[0], "DFG", aid)
            j += 1
        while self.accept("op", ","):
            e = self.parse_unary(f"{path}.el[{j}]")
            e = self._binary_rhs(e, f"{path}.el[{j}]", 5)
            if e[0]:
                self.ast_edge(aid, e[0], "initializers", index=j)
                self.edge(e[0], "DFG", aid)
            j += 1
        return (aid, "Object[]")

    _CMD_STOP = {";", ")", "}", "]", "|", ",", "eof"}

    def parse_command(self, path: str, name_t: Tok):
        """Cmdlet-style invocation: ``Name arg -flag value ...``.

        Named ``-flag`` arguments are re-ordered to the declared parameter
        position when the callee is a locally declared function
        (PowerShellFrontendTest.testFunctionDeclaration: the third textual
        argument of ``test2 -value .. -test2 .. -test ..`` carries
        argumentIndex 1)."""
        cid = self.node(self._p(path + ".call"), "CallExpression",
                        name_t.text, loc=self._tloc(name_t))
        args: list[tuple] = []  # (arg_id, flag_name|None)
        if self.accept("op", "("):
            # parenthesized: a comma list is ONE array argument
            items = []
            ai = 0
            while not self.accept("op", ")"):
                if self.peek().kind == "eof":
                    raise PsParseError("unterminated argument list")
                eid, _ = self.parse_expr(f"{path}.parg[{ai}]")
                if eid:
                    items.append(eid)
                self.accept("op", ",")
                ai += 1
            if len(items) == 1:
                args.append((items[0], None))
            elif items:
                aid = self.node(self._p(path + ".arr"),
                                "InitializerListExpression")
                self.eval_type(aid, "Object[]")
                for j, eid in enumerate(items):
                    self.ast_edge(aid, eid, "initializers", index=j)
                    self.edge(eid, "DFG", aid)
                args.append((aid, None))
        else:
            ai = 0
            while True:
                t = self.peek()
                if t.kind in self._CMD_STOP or t.text in self._CMD_STOP \
                   or t.kind == "psop":
                    break
                if t.kind == "ident" and t.text.lower() not in _KEYWORDS:
                    # bare word argument IS a string in PowerShell
                    # (`Get-Process powershell`)
                    self.next()
                    sid = self.node(self._p(f"{path}.arg[{ai}]"), "Literal",
                                    t.text, loc=self._tloc(t))
                    self.eval_type(sid, "String")
                    args.append((sid, None))
                    ai += 1
                    continue
                if t.kind == "flag":
                    self.next()
                    flag = t.text[1:]
                    nt = self.peek()
                    if nt.kind in self._CMD_STOP or nt.text in self._CMD_STOP \
                       or nt.kind == "flag":
                        # switch parameter (no value): boolean true
                        sid = self.node(self._p(f"{path}.sw"), "Literal",
                                        "true", loc=self._tloc(t))
                        self.eval_type(sid, "bool")
                        args.append((sid, flag))
                        ai += 1
                        continue
                    eid, _ = self._command_arg(f"{path}.arg[{ai}]")
                    if eid:
                        args.append((eid, flag))
                    ai += 1
                    continue
                eid, _ = self._command_arg(f"{path}.arg[{ai}]")
                if eid is None:
                    break
                args.append((eid, None))
                ai += 1
        # positional index assignment, honoring declared param order for
        # named flags when the callee is known
        # (a definition whose header failed to parse has a name but no
        # function info)
        info = self._functions_by_id.get(
            self._functions_by_name.get(name_t.text.lower()))
        pnames = ([p.lstrip("$").lower() for p in info["param_names"]]
                  if info else [])
        taken = set()
        indexed: list[tuple] = []
        for eid, flag in args:
            if flag is not None and flag.lower() in pnames:
                indexed.append((eid, pnames.index(flag.lower())))
                taken.add(pnames.index(flag.lower()))
            else:
                indexed.append((eid, None))
        free = (i for i in range(len(args) + len(pnames)) if i not in taken)
        final_args = []
        for eid, idx in indexed:
            if idx is None:
                idx = next(free)
            self.ast_edge(cid, eid, "arguments", index=idx)
            self._set_arg_index(eid, idx)
            self.edge(eid, "DFG", cid)
            final_args.append({"arg_id": eid, "index": idx})
        self.pending_calls.append(
            (cid, name_t.text, list(self.scopes), final_args))
        return (cid, None, None)

    def parse_operand(self, path: str):
        """Returns (node_id, type, var_name_for_decl)."""
        t = self.peek()
        if t.kind == "int":
            self.next()
            lid = self.node(self._p(path + ".lit"), "Literal", t.text,
                            loc=self._tloc(t), code=t.text)
            self.eval_type(lid, "int")
            return (lid, "int", None)
        if t.kind == "float":
            self.next()
            lid = self.node(self._p(path + ".lit"), "Literal", t.text,
                            loc=self._tloc(t), code=t.text)
            self.eval_type(lid, "float")
            return (lid, "float", None)
        if t.kind == "string":
            self.next()
            lid = self.node(self._p(path + ".lit"), "Literal",
                            t.text[1:-1][:60], loc=self._tloc(t))
            self.eval_type(lid, "String")
            # "$var interpolation" feeds the string's DFG
            if t.text[0] == '"':
                for m in re.finditer(r"\$([A-Za-z_][A-Za-z0-9_]*)", t.text):
                    d = self.resolve("$" + m.group(1))
                    if d is not None:
                        self.edge(d["decl_id"], "DFG", lid)
            return (lid, "String", None)
        if t.kind == "var":
            self.next()
            name = t.text
            if name.lower() in ("$true", "$false"):
                lid = self.node(self._p(path + ".lit"), "Literal",
                                name[1:].lower(), loc=self._tloc(t))
                self.eval_type(lid, "bool")
                return (lid, "bool", None)
            if name.lower() == "$null":
                lid = self.node(self._p(path + ".lit"), "Literal", "null",
                                loc=self._tloc(t))
                return (lid, None, None)
            rid_ = self.node(self._p(path + ".ref"),
                             "DeclaredReferenceExpression", name,
                             loc=self._tloc(t))
            d = self.resolve(name)
            self.pending_refs.append((rid_, name, list(self.scopes), "read"))
            return (rid_, d.get("type") if d else None, name)
        if t.text == "@" and self.peek(1).text == "(":
            self.next()
            self.next()
            aid = self.node(self._p(path + ".arr"),
                            "InitializerListExpression", loc=self._tloc(t))
            self.eval_type(aid, "Object[]")
            ai = 0
            while not self.accept("op", ")"):
                if self.peek().kind == "eof":
                    raise PsParseError("unterminated array literal")
                cast = self._bracket_type()
                e, _ = self.parse_expr(f"{path}.arr[{ai}]", min_prec=5)
                if e:
                    if cast:
                        ce = self.node(self._p(f"{path}.cast"),
                                       "CastExpression", cast)
                        self.eval_type(ce, cast)
                        self.ast_edge(ce, e, "expression")
                        self.edge(e, "DFG", ce)
                        e = ce
                    self.ast_edge(aid, e, "initializers", index=ai)
                    self.edge(e, "DFG", aid)
                self.accept("op", ",")
                ai += 1
            return (aid, "Object[]", None)
        if t.text == "[":
            cast = self._bracket_type()
            if cast is not None:
                inner = self.parse_unary(path + ".castee")
                ce = self.node(self._p(path + ".cast"), "CastExpression",
                               cast, loc=self._tloc(t))
                self.eval_type(ce, cast)
                if inner[0]:
                    self.ast_edge(ce, inner[0], "expression")
                    self.edge(inner[0], "DFG", ce)
                return (ce, cast, None)
        if t.text == "(":
            self.next()
            inner = self.parse_expr(path + ".paren")
            self.accept("op", ")")
            return (inner[0], inner[1], None)
        if t.text == "{":
            open_t = self.next()
            lam = self.parse_scriptblock(self._p(path + ".sb"), open_t)
            return (lam[0], "scriptblock", None)
        if t.kind == "ident" and t.text.lower() not in _KEYWORDS:
            self.next()
            return self.parse_command(path, t)
        if t.kind == "eof":
            raise PsParseError("unexpected end of input in expression")
        # unknown token — consume and degrade (reference logs NOT_IMPLEMENTED)
        self.next()
        eid = self.node(self._p(path + ".expr"), "Expression", t.text[:30])
        return (eid, None, None)

    # ------------------------------------------------------------ link-time
    def _retract_node(self, nid: str):
        """Remove a speculatively emitted node and its edges (the ref node
        minted before `=` turned the expression into a declaration)."""
        self.out.nodes = [n for n in self.out.nodes if n["node_id"] != nid]
        self.out.edges = [e for e in self.out.edges
                          if e["subj"] != nid and e["obj"] != nid]
        self._node_rows.pop(nid, None)
        self.out.id_log.pop(nid, None)

    def _arity(self, args):
        # named (-Flag value) arguments are indexed like positional ones,
        # so an unresolved command's keyword count stays unknown
        return len(args), None

    def _export_symbols(self):
        for fid, info in self._functions_by_id.items():
            if info["name"].startswith("<scriptblock"):
                continue
            self.out.symbols.append({
                "decl_id": fid, "kind": "function", "name": info["name"],
                "fqn": f"{self.module_name}.{info['name']}",
                "record": None, "module": self.module_name,
                "doc_id": self.doc_id, "n_params": info["n_params"],
                "has_defaults": info["has_defaults"], "is_variadic": False,
                "param_ids": info["param_ids"],
                "param_names": info["param_names"],
            })


def parse_ps_document(doc_id: str, span_offset: int, source: str,
                      module_name: str | None = None) -> DocGraph:
    """Parse one PowerShell span; parse failures degrade to a
    ProblemDeclaration node (never fail the Arrow batch)."""
    return parse_span(PsFrontend, doc_id, span_offset, source, module_name,
                      (PsParseError, RecursionError, IndexError))
