"""TypeScript/JavaScript frontend (SURVEY F6): tokenizer + recursive
descent over the TS subset the reference's test resources exercise
(``cpg-core/src/test/resources/typescript/{function,fetch,component}.ts*``
— the reference bridges to a Node.js subprocess AST,
``core/frontends/typescript/TypeScriptLanguageFrontend.kt``; no Node
toolchain exists here, so the same surface is parsed directly):

* ``import {a, b} from "m"`` / ``import * as ns from "m"`` / default
  imports -> IncludeDeclaration + cross-document mentions
* ``function f(a: T, b = 1): R {}``       -> FunctionDeclaration (+ params,
  postfix type annotations, default args)
* ``class A extends B { ... }``           -> RecordDeclaration + SUPER_TYPE,
  constructor/methods/fields (CONSTRUCTORS/METHODS/FIELDS edges)
* ``interface I { x: T; }``               -> RecordDeclaration(interface)
* ``const/let/var x: T = e``              -> VariableDeclaration, DFG init
* arrow functions ``(x) => e``            -> LambdaExpression wrapping an
  anonymous FunctionDeclaration (reference maps ArrowFunction the same way)
* statements: if/else, while, for, return, blocks, expression statements
* expressions: assignment, binary (JS precedence), unary, calls, member
  calls/access (incl. ``this``), ``new``, object/array literals, template
  literals (embedded ``${expr}`` identifiers contribute DFG), literals

Semicolons are optional: Go-style ASI with a JS twist — an inserted
semicolon is retracted when the next line continues with ``.`` / ``(`` /
`` ) `` / binary-operator tokens (supports fluent ``fetch(..).then(..)``
chains).  Anything outside the subset degrades to Expression/Statement
placeholder nodes (the reference logs NOT_IMPLEMENTED the same way).
"""

from __future__ import annotations

import re

from cpg_spark.frontends.base import DocGraph, Tok, TokenFrontend, parse_span
from cpg_spark.frontends.eog import build_eog

_KEYWORDS = {
    "break", "case", "catch", "class", "const", "continue", "default",
    "delete", "do", "else", "enum", "export", "extends", "finally", "for",
    "function", "if", "implements", "import", "in", "instanceof",
    "interface", "let", "new", "of", "private", "protected", "public",
    "readonly", "return", "static", "super", "switch", "this", "throw",
    "try", "typeof", "var", "while", "async", "await", "from", "as",
}

_ASI_AFTER = {"ident", "int", "float", "string", "template", ")", "]", "}",
              "++", "--"}
_ASI_KEYWORDS = {"break", "continue", "return", "this", "super", "true",
                 "false", "null", "undefined"}
# a line starting with one of these CONTINUES the previous expression
_CHAIN_START = {".", "(", ")", "+", "-", "*", "/", "&&", "||", "?", ":",
                "=>", "==", "===", "!=", "!==", "<", ">", "<=", ">=", ","}

_TOKEN_RE = re.compile(
    r"""
      (?P<comment>//[^\n]*|/\*.*?\*/)
    | (?P<template>`(?:\\.|[^`\\])*`)
    | (?P<string>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
    | (?P<float>\d+\.\d+(?:[eE][+-]?\d+)?)
    | (?P<int>0[xX][0-9a-fA-F]+|\d+)
    | (?P<ident>\#?[^\W\d][\w$]*|\#?\$[\w$]*)
    | (?P<op>===|!==|\.\.\.|=>|\+\+|--|&&=|\|\|=|\?\?=|&&|\|\||\?\?|==|!=|<<=|>>>=|>>=|<<|>>>|>>|<=|>=|\+=|-=|\*=|/=|%=|&=|\|=|\^=|\*\*=|\*\*|[+\-*/%&|^~<>=!?:.,;(){}\[\]@])
    | (?P<nl>\n)
    | (?P<ws>[ \t\r]+)
    """,
    re.VERBOSE | re.DOTALL,
)

_PREC = {
    "??": 1, "||": 1, "&&": 2,
    "|": 3, "^": 4, "&": 5,
    "==": 6, "!=": 6, "===": 6, "!==": 6,
    "<": 7, "<=": 7, ">": 7, ">=": 7, "instanceof": 7, "in": 7,
    "<<": 8, ">>": 8, ">>>": 8,
    "+": 9, "-": 9,
    "*": 10, "/": 10, "%": 10, "**": 11,
}

_ASSIGN_OPS = {"=", "+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=",
               "<<=", ">>=", ">>>=", "**=", "&&=", "||=", "??="}

_TEMPLATE_EXPR_RE = re.compile(r"\$\{([A-Za-z_$][A-Za-z0-9_$.]*)\}")


class TsParseError(Exception):
    pass


# a '/' after one of these starts a REGEX literal, not division
_REGEX_BEFORE = {"(", ",", "=", ":", "[", "!", "&", "|", "?", "{", ";",
                 "return", "typeof", "=>", "||", "&&", "==", "===", "!=",
                 "!==", "+", "-", "*", "%", "<", ">", "<=", ">=", "??",
                 "case"}
_REGEX_RE = re.compile(r"/(?:\\.|\[(?:\\.|[^\]\\])*\]|[^/\\\n])+/[a-z]*")


def tokenize(src: str) -> list[Tok]:
    toks: list[Tok] = []
    line, col = 1, 0
    pos = 0
    while pos < len(src):
        if src[pos] == "/" and pos + 1 < len(src) and src[pos + 1] not in "/*":
            prev = toks[-1] if toks else None
            if prev is None or prev.text in _REGEX_BEFORE:
                rm = _REGEX_RE.match(src, pos)
                if rm:
                    toks.append(Tok("regex", rm.group(), line, col))
                    col += len(rm.group())
                    pos = rm.end()
                    continue
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            pos += 1
            col += 1
            continue
        kind = m.lastgroup
        text = m.group()
        if kind == "nl":
            # ASI never fires after a keyword that cannot end a statement
            # (`var\n/*c*/\nx = 1` is ONE declaration); the restricted
            # productions (return/break/continue/...) still terminate
            if toks and toks[-1].kind != ";" and (
                toks[-1].kind in _ASI_AFTER
                and not (toks[-1].kind == "ident"
                         and toks[-1].text in _KEYWORDS
                         and toks[-1].text not in _ASI_KEYWORDS)
            ):
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
            # JS ASI retraction: `.then(...)` on the next line continues
            if toks and toks[-1].kind == ";" and toks[-1].text == ";" \
               and text in _CHAIN_START and kind == "op":
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


class TsFrontend(TokenFrontend):
    """One TS/JS span -> DocGraph rows (mirrors GoFrontend's architecture)."""

    ParseError = TsParseError

    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str):
        super().__init__(doc_id, span_offset, source, module_name,
                         tokenize(source))
        self._paths: dict[str, int] = {}
        self._lambda_n = 0

    # ---------------------------------------------------------- token utils
    def accept_kw(self, word: str) -> Tok | None:
        t = self.peek()
        if t.kind == "ident" and t.text == word:
            return self.next()
        return None

    def _p(self, tag: str) -> str:
        n = self._paths.get(tag, 0)
        self._paths[tag] = n + 1
        return f"{tag}[{n}]" if n else tag

    def _tloc(self, t: Tok):
        return (t.line, t.col, t.line, t.col + len(t.text))

    # ------------------------------------------------------------------ run
    def run(self) -> DocGraph:
        ns_id = self.node("ns", "NamespaceDeclaration", self.module_name)
        self.enter_scope("module", self.module_name, ns_id)
        infos = []
        while self.peek().kind != "eof":
            self.skip_semis()
            if self.peek().kind == "eof":
                break
            # panic-mode per-declaration recovery: one bad construct
            # yields one located ProblemDeclaration, not a dead file
            pid = self._guard_top(self._top_decl, ns_id, infos)
            if pid is not None:
                self.ast_edge(ns_id, pid, "declarations")
        build_eog(self, ns_id, infos)
        self._resolve_locally()
        self._export_symbols()
        self.leave_scope()
        return self.out

    def _top_decl(self, ns_id: str, infos: list) -> None:
        """One top-level declaration/statement dispatch."""
        t = self.peek()
        if t.text == "@":
            self._parse_decorators(ns_id)
            return
        if t.kind == "ident" and t.text == "import":
            self.parse_import(ns_id)
            return
        if t.kind == "ident" and t.text == "export":
            self.next()  # modifier only; re-dispatch
            self.accept_kw("default")
            return
        if t.kind == "ident" and t.text in ("abstract", "declare") \
           and self.peek(1).kind == "ident" \
           and self.peek(1).text in ("class", "function", "interface",
                                     "const", "let", "var",
                                     "namespace", "module", "type",
                                     "enum"):
            self.next()  # modifier only; re-dispatch
            return
        if t.kind == "ident" and t.text == "function":
            fid = self.parse_function(self._p("fn"))
            if fid:
                self.ast_edge(ns_id, fid, "declarations")
            return
        if t.kind == "ident" and t.text == "class":
            rid = self.parse_class(self._p("class"))
            if rid:
                self.ast_edge(ns_id, rid, "declarations")
            return
        if t.kind == "ident" and t.text == "interface":
            rid = self.parse_interface(self._p("iface"))
            if rid:
                self.ast_edge(ns_id, rid, "declarations")
            return
        if t.kind == "ident" and t.text in ("type", "enum") \
           and self.peek(1).kind == "ident":
            self._skip_type_alias()
            return
        pair = self.parse_stmt(self._p("stmt"), ns_id, 0)
        if pair is not None:
            self.ast_edge(ns_id, pair[0], "statements")
            infos.append(pair[1])

    # -------------------------------------------------------------- imports
    def parse_import(self, ns_id: str):
        t = self.next()  # 'import'
        names: list[tuple[str, str]] = []  # (local, exported)
        star = False
        if self.accept("op", "{"):
            while not self.accept("op", "}"):
                if self.peek().kind == "eof":
                    raise TsParseError("unterminated import clause")
                n = self.expect("ident")
                local = n.text
                if self.accept_kw("as"):
                    local = self.expect("ident").text
                names.append((local, n.text))
                self.accept("op", ",")
        elif self.accept("op", "*"):
            star = True
            self.accept_kw("as")
            local = self.expect("ident").text
            names.append((local, "*"))
        elif self.peek().kind == "ident" and self.peek().text != "from":
            d = self.next()
            names.append((d.text, "default"))
        mod = ""
        if self.accept_kw("from"):
            mod = self.expect("string").text.strip("'\"")
        elif self.peek().kind == "string":  # bare `import "m"`
            mod = self.next().text.strip("'\"")
        mod_norm = mod.lstrip("./").replace("/", ".")
        iid = self.node(self._p("import"), "IncludeDeclaration", mod,
                        loc=self._tloc(t))
        self.ast_edge(ns_id, iid, "includes")
        # base_type carries the imported module — the linker's visibility
        # gate (_imports_dim) joins on it, same shape as the py/go frontends
        self.out.mentions.append({
            "mention_id": iid, "kind": "import",
            "name": "*" if (star or not names) else names[0][0],
            "base_type": mod_norm, "scope_path": self.module_name,
            "doc_id": self.doc_id, "n_args": None, "n_kwargs": None,
            "arg_ids": None})
        for local, exported in names:
            self.imports[local] = mod_norm if exported == "*" \
                else f"{mod_norm}.{exported}"
        self.skip_semis()

    def _skip_type_alias(self):
        # `type X = ...;` / `enum E { ... }` — type-level only, no CPG rows
        # beyond a Type node for the name
        self.next()
        name = self.expect("ident").text
        self.type_node(name)
        depth = 0
        while self.peek().kind != "eof":
            t = self.next()
            if t.text in "({[":
                depth += 1
            elif t.text in ")}]":
                depth -= 1
                if depth == 0 and t.text == "}":
                    return
            elif t.kind == ";" and depth == 0:
                return

    # ------------------------------------------------------------ functions
    def _skip_type_params(self) -> None:
        """Consume a balanced ``<...>`` generic parameter list."""
        d = 0
        while self.peek().kind != "eof":
            t = self.peek()
            if t.kind == "op" and t.text == "<":
                d += 1
            elif t.kind == "op" and t.text == ">":
                d -= 1
                self.next()
                if d == 0:
                    return
                continue
            elif t.kind == "op" and t.text == ">>":
                d -= 2
                self.next()
                if d <= 0:
                    return
                continue
            elif t.kind == "op" and t.text == ">>>":
                d -= 3
                self.next()
                if d <= 0:
                    return
                continue
            self.next()

    def _type_annotation(self) -> str | None:
        """Optional `: T` postfix annotation; returns normalized name."""
        if not self.accept("op", ":"):
            return None
        return self._parse_type()

    def _parse_type(self) -> str:
        """One type reference: dotted name, optional balanced ``<...>``
        generic suffix, ``[]`` arrays, ``|``/``&`` unions.  Never consumes
        ``{`` ``(`` ``=`` ``,`` ``;`` ``)`` at top level (those belong to
        the surrounding declaration)."""
        parts = []

        def balanced(op, cl):
            depth = 0
            while self.peek().kind != "eof":
                t = self.next()
                parts.append(t.text)
                if t.text == op:
                    depth += 1
                elif t.text == cl:
                    depth -= 1
                    if depth == 0:
                        return

        def one():
            if self.peek().text == "{":  # inline object type — swallow
                balanced("{", "}")
                return
            if self.peek().text == "[":  # tuple type `[string, number]`
                balanced("[", "]")
                return
            if self.peek().text == "(":
                # function type `(e: Error) => void` (or parenthesized)
                balanced("(", ")")
                if self.peek().text == "=>":
                    parts.append(self.next().text)
                    one()
                return
            t = self.next()
            parts.append(t.text)
            while self.peek().text == ".":
                parts.append(self.next().text)
                parts.append(self.expect("ident").text)
            if self.peek().text == "<":
                depth = 0
                while self.peek().kind != "eof":
                    t = self.next()
                    parts.append(t.text)
                    if t.text == "<":
                        depth += 1
                    elif t.text == ">":
                        depth -= 1
                        if depth == 0:
                            break
                    elif t.text in (">>", ">>>"):
                        depth -= 2 if t.text == ">>" else 3
                        if depth <= 0:
                            break
            while self.peek().text == "[" and self.peek(1).text == "]":
                parts.append(self.next().text)
                parts.append(self.next().text)

        one()
        while self.peek().text in ("|", "&"):
            parts.append(self.next().text)
            one()
        return "".join(parts)

    def parse_params(self, fid: str, path: str) -> tuple[list, list, bool]:
        self.expect("op") if self.peek().text == "(" else None
        pids, pnames, has_default = [], [], False
        j = 0
        while not self.accept("op", ")"):
            if self.peek().kind == "eof":
                raise TsParseError("unterminated parameter list")
            self.accept("op", "...")
            for mod in ("public", "private", "protected", "readonly"):
                # only a MODIFIER when a binding follows — `readonly` is
                # a legal plain parameter NAME in JS
                if (self.peek().kind == "ident"
                        and self.peek().text == mod
                        and (self.peek(1).kind == "ident"
                             or self.peek(1).text in ("{", "["))):
                    self.next()
            if self.peek().kind == "op" and self.peek().text in ("{", "["):
                # destructured parameter `({ a, b }: Opts)` — the bound
                # names each become a ParameterDeclaration at this index;
                # names after the first get their own path
                close = "}" if self.peek().text == "{" else "]"
                self.next()
                bound = self._collect_binding_names(f"{path}.param[{j}]",
                                                    close)
                self.accept("op", "?")
                ptype = self._type_annotation()
                if not bound:
                    bound = [Tok("ident", f"<destructured{j}>", 0, 0)]
                for k, b in enumerate(bound):
                    pid = self.node(f"{path}.param[{j}]"
                                    + (f".b[{k}]" if k else ""),
                                    "ParameterDeclaration", b.text,
                                    loc=self._tloc(b) if b.line else None,
                                    argument_index=j)
                    self.ast_edge(fid, pid, "parameters", index=j)
                    self.declare(b.text, pid, "param", None)
                    pids.append(pid)
                    pnames.append(b.text)
                if self.accept("op", "="):
                    has_default = True
                    self.parse_expr(f"{path}.param[{j}].default")
                self.accept("op", ",")
                j += 1
                continue
            n = self.expect("ident")
            self.accept("op", "?")
            ptype = self._type_annotation()
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
        return pids, pnames, has_default

    def parse_function(self, path: str, record: str | None = None,
                       name_tok: Tok | None = None, kind_label: str | None = None):
        anon = None
        if name_tok is None:
            kw = self.next()  # 'function'
            if self.peek().kind == "op" and self.peek().text == "*":
                # generator `function* gen()` — the star is
                # declaration-shape only (GeneratorFunction semantics
                # have no CPG weight)
                self.next()
            if self.peek().kind == "ident":
                name_tok = self.expect("ident")
            else:  # anonymous function expression: `function (req, res) {`
                self._lambda_n += 1
                anon = f"<fn{self._lambda_n}>"
                name_tok = kw
        name = anon or name_tok.text
        label = kind_label or "FunctionDeclaration"
        fid = self.node(path, label, name, loc=self._tloc(name_tok))
        self.declare(name, fid, "function")
        self.enter_scope("function", name, fid)
        if self.peek().kind == "op" and self.peek().text == "<":
            # generic type parameters `function f<T, K extends keyof T>`
            # — erased (TS types carry no runtime weight)
            self._skip_type_params()
        pids, pnames, has_default = self.parse_params(fid, path)
        rtype = self._type_annotation()
        if rtype:
            self.eval_type(fid, rtype)
        self._functions_by_id[fid] = {
            "name": name, "record": record, "n_params": len(pids),
            "param_ids": pids, "param_names": pnames,
            "has_defaults": has_default}
        if self.accept("op", "{"):
            infos = self.parse_block_body(path + ".body", fid)
            build_eog(self, fid, infos)
        self.leave_scope()
        return fid

    def _scan_past_return_type(self, k: int) -> int:
        """Arrow lookahead: token index of the `=>` following an optional
        ``: Type`` return annotation starting at ``k`` (the token after
        the parameter list's `)`).  Only a `:` opens an annotation, so a
        member-call chain ``(a).map(x => ...)`` never reaches the
        callback's `=>`; the scan stops at `(`, so a ternary
        ``c ? (a) : b.f(x => ...)`` does not either, while a qualified
        return type ``(): JSX.Element => ...`` still scans past its `.`.
        Angle depth is tracked so generic return types scan past their
        commas — ``(x): Map<string, number> => ...`` is an arrow.
        Terminators only count at depth 0."""
        n = len(self.toks)
        if k >= n or self.toks[k].text != ":":
            return k
        k += 1
        ang = 0
        while k < n and self.toks[k].kind != "eof":
            tx = self.toks[k].text
            if tx == "<":
                ang += 1
            elif tx in (">", ">>", ">>>") and ang:
                ang = max(0, ang - len(tx))
            elif ang == 0 and tx in ("=>", ";", ")", "{", ",", "("):
                break
            k += 1
        return k

    def parse_arrow(self, path: str):
        """`(a, b) => expr-or-block` / `a => ...` -> LambdaExpression."""
        self._lambda_n += 1
        lname = f"<lambda{self._lambda_n}>"
        lam = self.node(path, "LambdaExpression", lname)
        fid = self.node(path + ".fn", "FunctionDeclaration", lname,
                        is_implicit=True)
        self.ast_edge(lam, fid, "function")
        self.enter_scope("function", lname, fid)
        if self.peek().text == "(":
            self.next()
            pids, pnames, hd = self.parse_params(fid, path)
        else:
            n = self.expect("ident")
            pid = self.node(f"{path}.param[0]", "ParameterDeclaration",
                            n.text, argument_index=0)
            self.ast_edge(fid, pid, "parameters", index=0)
            self.declare(n.text, pid, "param", None)
            pids, pnames, hd = [pid], [n.text], False
        self._functions_by_id[fid] = {
            "name": lname, "record": None, "n_params": len(pids),
            "param_ids": pids, "param_names": pnames, "has_defaults": hd}
        if self.peek().kind == "op" and self.peek().text == ":":
            self._type_annotation()  # `(x): Promise<T> => ...`
        self.expect("op") if self.peek().text == "=>" else None
        if self.accept("op", "{"):
            infos = self.parse_block_body(path + ".body", fid)
            build_eog(self, fid, infos)
        else:
            eid, _ = self.parse_expr(path + ".expr")
            if eid:
                ret = self.node(path + ".ret", "ReturnStatement",
                                is_implicit=True)
                self.ast_edge(fid, ret, "body")
                if eid:
                    self.ast_edge(ret, eid, "returnValue")
                    self.edge(eid, "DFG", ret)
                build_eog(self, fid, [{"kind": "return", "nid": ret}])
        self.leave_scope()
        self.edge(fid, "DFG", lam)
        return lam

    # -------------------------------------------------------------- classes
    def parse_class(self, path: str):
        self.next()  # 'class'
        name_t = self.expect("ident")
        name = name_t.text
        rid = self.node(path, "RecordDeclaration", name,
                        loc=self._tloc(name_t), props={"kind": "class"})
        if self.peek().kind == "op" and self.peek().text == "<":
            # `class C<T extends object = {}>` — erased, like functions
            self._skip_type_params()
        supers = []
        if self.accept_kw("extends"):
            sup = self._parse_type()
            if self.peek().kind == "op" and self.peek().text == "(":
                # mixin heritage `class C extends mixin(Base)` — the
                # factory call is spelling-only; keep the callee name
                d = 0
                while self.peek().kind != "eof":
                    tk = self.next()
                    if tk.kind == "op" and tk.text == "(":
                        d += 1
                    elif tk.kind == "op" and tk.text == ")":
                        d -= 1
                        if d == 0:
                            break
            base = sup.split("<")[0].split(".")[-1]
            supers.append(base)
            self.edge(rid, "SUPER_TYPE", self.type_node(base))
        if self.accept_kw("implements"):
            while self.peek().kind == "ident":
                sup = self._parse_type()
                self.edge(rid, "SUPER_TYPE",
                          self.type_node(sup.split("<")[0]))
                if not self.accept("op", ","):
                    break
        self.declare(name, rid, "record", name)
        rec = {"decl_id": rid, "methods": {}, "fields": {}, "supers": supers}
        self.records[name] = rec
        self.enter_scope("record", name, rid)
        self.expect("op") if self.peek().text == "{" else None
        mi = 0
        while not self.accept("op", "}"):
            if self.peek().kind == "eof":
                raise TsParseError("unterminated class body")
            self.skip_semis()
            if self.peek().text == "}":
                continue
            self._parse_decorators(rid)
            for mod in ("public", "private", "protected", "static",
                        "readonly", "async", "abstract", "override"):
                self.accept_kw(mod)
            if self.peek().kind == "op" and self.peek().text == "*":
                self.next()  # generator method `*gen() {}`
            if self.peek().kind == "op" and self.peek().text == "{":
                # `static { init(); }` — class static initializer block
                # (ES2022); body statements keep their graph shape under a
                # CompoundStatement child of the record
                self.next()
                cid = self.node(f"{path}.static[{mi}]", "CompoundStatement")
                self.ast_edge(rid, cid, "staticBlocks")
                self.parse_block_body(f"{path}.static[{mi}]", cid)
                mi += 1
                self.skip_semis()
                continue
            if self.peek().kind == "op" and self.peek().text == "[":
                # computed member name `["dyn" + k]() {}` — evaluate the
                # key expression, synthesize an anonymous member name
                lb = self.next()
                self.parse_expr(f"{path}.key[{mi}]")
                self.accept("op", "]")
                n = Tok("ident", f"<computed{mi}>", lb.line, lb.col)
            else:
                n = self.expect("ident")
            if self.peek().kind == "op" and self.peek().text == "<":
                # generic method `m<U>(x: U)` — a `<` right after a member
                # name can only open a type-parameter list here
                self._skip_type_params()
            if self.peek().text == "(":
                is_ctor = n.text == "constructor"
                label = "ConstructorDeclaration" if is_ctor \
                    else "MethodDeclaration"
                fid = self.parse_function(
                    f"{path}.m[{mi}]", record=name, name_tok=n,
                    kind_label=label)
                self.ast_edge(rid, fid,
                              "constructors" if is_ctor else "methods")
                self.edge(rid, "CONSTRUCTORS" if is_ctor else "METHODS", fid)
                rec["methods"][n.text] = (fid, None)
            else:
                self.accept("op", "?")
                ftype = self._type_annotation()
                fld = self.node(f"{path}.f[{mi}]", "FieldDeclaration",
                                n.text, loc=self._tloc(n))
                if ftype:
                    self.eval_type(fld, ftype)
                if self.accept("op", "="):
                    init, _ = self.parse_expr(f"{path}.f[{mi}].init")
                    if init:
                        self.ast_edge(fld, init, "initializer")
                        self.edge(init, "DFG", fld)
                self.ast_edge(rid, fld, "fields")
                self.edge(rid, "FIELDS", fld)
                rec["fields"][n.text] = fld
                self.declare(n.text, fld, "field", ftype)
            mi += 1
            self.skip_semis()
        self.leave_scope()
        return rid

    def parse_interface(self, path: str):
        self.next()  # 'interface'
        name_t = self.expect("ident")
        name = name_t.text
        rid = self.node(path, "RecordDeclaration", name,
                        loc=self._tloc(name_t), props={"kind": "interface"})
        if self.peek().kind == "op" and self.peek().text == "<":
            self._skip_type_params()
        self.declare(name, rid, "record", name)
        rec = {"decl_id": rid, "methods": {}, "fields": {}, "supers": []}
        self.records[name] = rec
        if self.accept_kw("extends"):
            # interfaces may extend several bases: `extends A, B<T>`
            while self.peek().kind == "ident":
                sup = self._parse_type()
                base = sup.split("<")[0]
                rec["supers"].append(base)
                self.edge(rid, "SUPER_TYPE", self.type_node(base))
                if not self.accept("op", ","):
                    break
        self.expect("op") if self.peek().text == "{" else None
        fi = 0
        while not self.accept("op", "}"):
            if self.peek().kind == "eof":
                raise TsParseError("unterminated interface body")
            self.skip_semis()
            if self.peek().text == "}":
                continue
            n = self.expect("ident")
            self.accept("op", "?")
            if self.peek().kind == "op" and self.peek().text == "<":
                self._skip_type_params()  # generic signature `m<U>(x: U)`
            if self.peek().text == "(":
                # method signature — swallow params + return type
                depth = 0
                while self.peek().kind != "eof":
                    t = self.next()
                    if t.text == "(":
                        depth += 1
                    elif t.text == ")":
                        depth -= 1
                        if depth == 0:
                            break
                self._type_annotation()
                mid_ = self.node(f"{path}.m[{fi}]", "MethodDeclaration",
                                 n.text, loc=self._tloc(n))
                self.ast_edge(rid, mid_, "methods")
                self.edge(rid, "METHODS", mid_)
                rec["methods"][n.text] = (mid_, None)
            else:
                ftype = self._type_annotation()
                fld = self.node(f"{path}.f[{fi}]", "FieldDeclaration",
                                n.text, loc=self._tloc(n))
                if ftype:
                    self.eval_type(fld, ftype)
                self.ast_edge(rid, fld, "fields")
                self.edge(rid, "FIELDS", fld)
                rec["fields"][n.text] = fld
            fi += 1
            self.skip_semis()
        return rid

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
                raise TsParseError("unterminated block")
            pair = self.parse_stmt(f"{path}.s[{si}]", parent, si)
            if pair is not None:
                self.ast_edge(parent, pair[0], "body", index=si)
                infos.append(pair[1])
            si += 1
        return infos

    def parse_stmt(self, path: str, parent: str, index: int):
        t = self.peek()
        if t.kind == "ident":
            if t.text in ("const", "let", "var"):
                return self.parse_var(path)
            if t.text == "if":
                return self.parse_if(path)
            if t.text == "while":
                return self.parse_while(path)
            if t.text == "do":
                return self.parse_do(path)
            if t.text == "for":
                return self.parse_for(path)
            if t.text == "return":
                return self.parse_return(path)
            if t.text == "function":
                fid = self.parse_function(path)
                return (fid, {"kind": "plain", "nid": fid})
            if t.text in ("break", "continue"):
                self.next()
                lab = None
                nxt = self.peek()
                if (nxt.kind == "ident" and nxt.text not in _KEYWORDS
                        and nxt.line == t.line):  # `break outer` (no ASI)
                    lab = self.next().text
                nid = self.node(path, t.text.capitalize() + "Statement",
                                loc=self._tloc(t))
                self.skip_semis()
                return (nid, {"kind": t.text, "nid": nid, "label": lab})
            if t.text == "switch":
                return self.parse_switch(path)
            if t.text == "try":
                return self.parse_try(path)
            if t.text == "throw":
                self.next()
                eid, _ = self.parse_expr(path + ".val")
                nid = self.node(path, "ThrowStatement", loc=self._tloc(t))
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
        if (t.kind == "ident" and t.text not in _KEYWORDS
                and self.peek(1).kind == "op" and self.peek(1).text == ":"):
            # `outer: for (...) { break outer; }` -> LabelStatement
            self.next()
            self.next()
            nid = self.node(path, "LabelStatement", t.text,
                            loc=self._tloc(t))
            pair = self.parse_stmt(path + ".sub", nid, 0)
            sub = None
            if pair is not None:
                self.ast_edge(nid, pair[0], "subStatement")
                sub = pair[1]
            return (nid, {"kind": "label", "nid": nid, "name": t.text,
                          "sub": sub})
        # expression statement
        eid, _ = self.parse_expr(path)
        self.skip_semis()
        if eid is None:
            return None
        return (eid, {"kind": "plain", "nid": eid})

    def parse_var(self, path: str):
        kw = self.next()
        if self.peek().text in ("{", "["):
            return self._parse_destructuring(path, kw)
        n = self.expect("ident")
        vtype = self._type_annotation()
        vid = self.node(path, "VariableDeclaration", n.text,
                        loc=self._tloc(n), props={"kind": kw.text})
        if vtype:
            self.eval_type(vid, vtype)
        if self.accept("op", "="):
            init, itype = self.parse_expr(path + ".init")
            if init:
                self.ast_edge(vid, init, "initializer")
                self.edge(init, "DFG", vid)
            if vtype is None and itype:
                vtype = itype
                self.eval_type(vid, itype)
        self.declare(n.text, vid, "var", vtype)
        self.skip_semis()
        return (vid, {"kind": "plain", "nid": vid})

    def _collect_binding_names(self, path: str, close: str) -> list:
        """Bound identifiers of a (possibly nested) destructuring
        pattern — positioned just AFTER the opening brace/bracket.
        Handles aliases ``{orig: alias}``, nested patterns
        ``{a: {b}}`` (binds the INNER name), and binding defaults.
        Shared by variable destructuring and destructured parameters
        (round-5 ADVICE fix: the param path used a flat depth-1 token
        scan that bound the outer property key for nested patterns)."""
        got: list[Tok] = []
        while not self.accept("op", close):
            if self.peek().kind == "eof":
                raise TsParseError("unterminated destructuring pattern")
            tk = self.peek()
            if tk.kind == "op" and tk.text in ("{", "["):
                # nested pattern `const { a: { b } } = e`
                c2 = "}" if self.next().text == "{" else "]"
                got.extend(self._collect_binding_names(path, c2))
            elif tk.kind == "ident":
                n = self.next()
                local = n
                if self.accept("op", ":"):   # {orig: alias-or-nested}
                    if (self.peek().kind == "op"
                            and self.peek().text in ("{", "[")):
                        c2 = "}" if self.next().text == "{" else "]"
                        got.extend(self._collect_binding_names(path, c2))
                        continue
                    local = self.expect("ident")
                got.append(local)
                if self.accept("op", "="):  # binding default
                    self.parse_expr(f"{path}.dflt[{len(got)}]")
            else:
                self.next()
        return got

    def _parse_destructuring(self, path: str, kw: Tok):
        """``const { a, b } = e`` / ``const [x, y] = e`` -> one
        VariableDeclaration per bound name, all DFG-fed from the
        initializer (the reference's TS frontend lowers binding patterns
        the same way)."""
        close = "}" if self.next().text == "{" else "]"
        names = self._collect_binding_names(path, close)
        self.accept("op", ",")
        vids = []
        gid = self.node(path, "DeclarationStatement", kw.text,
                        loc=self._tloc(kw))
        for j, n in enumerate(names):
            vid = self.node(f"{path}.bind[{j}]", "VariableDeclaration",
                            n.text, loc=self._tloc(n),
                            props={"kind": kw.text, "destructured": "true"})
            self.ast_edge(gid, vid, "declarations", index=j)
            self.declare(n.text, vid, "var")
            vids.append(vid)
        if self.accept("op", "="):
            init, _ = self.parse_expr(path + ".init")
            if init:
                self.ast_edge(gid, init, "initializer")
                for vid in vids:
                    self.edge(init, "DFG", vid)
        self.skip_semis()
        return (gid, {"kind": "plain", "nid": gid})

    def parse_if(self, path: str):
        t = self.next()
        nid = self.node(path, "IfStatement", loc=self._tloc(t))
        self.expect("op") if self.peek().text == "(" else None
        cond, _ = self.parse_expr(path + ".cond")
        self.accept("op", ")")
        if cond:
            self.ast_edge(nid, cond, "condition")
            self.edge(cond, "DFG", nid)
        then_infos = self._branch_body(path + ".then", nid, "thenStatement")
        else_infos = None
        if self.accept_kw("else"):
            else_infos = self._branch_body(path + ".else", nid,
                                           "elseStatement")
        return (nid, {"kind": "if", "nid": nid, "cond": cond,
                      "then": then_infos, "orelse": else_infos})

    def _branch_body(self, path: str, parent: str, fld: str) -> list[dict]:
        if self.accept("op", "{"):
            cid = self.node(path, "CompoundStatement")
            self.ast_edge(parent, cid, fld)
            return self.parse_block_body(path, cid)
        pair = self.parse_stmt(path, parent, 0)
        if pair is None:
            return []
        self.ast_edge(parent, pair[0], fld)
        return [pair[1]]

    def parse_while(self, path: str):
        t = self.next()
        nid = self.node(path, "WhileStatement", loc=self._tloc(t))
        self.expect("op") if self.peek().text == "(" else None
        cond, _ = self.parse_expr(path + ".cond")
        self.accept("op", ")")
        if cond:
            self.ast_edge(nid, cond, "condition")
            self.edge(cond, "DFG", nid)
        body = self._branch_body(path + ".body", nid, "statement")
        return (nid, {"kind": "while", "nid": nid, "cond": cond,
                      "body": body})

    def parse_do(self, path: str):
        """`do { body } while (cond)` -> DoStatement; body executes at
        least once before the condition (handleDoStatement)."""
        t = self.next()  # 'do'
        nid = self.node(path, "DoStatement", loc=self._tloc(t))
        body = self._branch_body(path + ".body", nid, "statement")
        self.skip_semis()
        cond = None
        if self.accept_kw("while"):
            self.expect("op") if self.peek().text == "(" else None
            cond, _ = self.parse_expr(path + ".cond")
            self.accept("op", ")")
            if cond:
                self.ast_edge(nid, cond, "condition")
                self.edge(cond, "DFG", nid)
        self.skip_semis()
        return (nid, {"kind": "dowhile", "nid": nid, "cond": cond or nid,
                      "body": body})

    def parse_for(self, path: str):
        t = self.next()
        nid = self.node(path, "ForStatement", loc=self._tloc(t))
        self.expect("op") if self.peek().text == "(" else None
        # for (const x of xs) | for (init; cond; update)
        if self.peek().kind == "ident" and self.peek().text in ("const", "let", "var"):
            kw = self.next()
            if self.peek().kind == "op" and self.peek().text in ("{", "["):
                # destructured binding `for (const [k, v] of entries)` —
                # one VariableDeclaration per bound name, all iterable-fed
                close = "}" if self.peek().text == "{" else "]"
                self.next()
                bound = []
                while not self.accept("op", close):
                    if self.peek().kind == "eof":
                        raise TsParseError("unterminated for binding")
                    if self.peek().kind == "ident":
                        b = self.next()
                        if self.accept("op", ":"):  # {orig: alias}
                            b = self.expect("ident")
                        bound.append(b)
                    else:
                        self.next()
                vids = []
                for bi, b in enumerate(bound):
                    vid = self.node(f"{path}.var[{bi}]",
                                    "VariableDeclaration", b.text,
                                    loc=self._tloc(b),
                                    props={"kind": kw.text})
                    self.declare(b.text, vid, "var")
                    self.ast_edge(nid, vid, "initializer", index=bi)
                    vids.append(vid)
                if self.accept_kw("of") or self.accept_kw("in"):
                    it, _ = self.parse_expr(path + ".iter")
                    if it:
                        self.ast_edge(nid, it, "iterable")
                        for vid in vids:
                            self.edge(it, "DFG", vid)
                self.accept("op", ")")
                body = self._branch_body(path + ".body", nid, "statement")
                return (nid, {"kind": "foreach", "nid": nid, "body": body})
            n = self.expect("ident")
            vid = self.node(path + ".var", "VariableDeclaration", n.text,
                            loc=self._tloc(n), props={"kind": kw.text})
            self.declare(n.text, vid, "var")
            self.ast_edge(nid, vid, "initializer")
            if self.accept_kw("of") or self.accept_kw("in"):
                it, _ = self.parse_expr(path + ".iter")
                if it:
                    self.ast_edge(nid, it, "iterable")
                    self.edge(it, "DFG", vid)
                self.accept("op", ")")
                body = self._branch_body(path + ".body", nid, "statement")
                return (nid, {"kind": "foreach", "nid": nid, "body": body})
            if self.accept("op", "="):
                init, _ = self.parse_expr(path + ".init")
                if init:
                    self.ast_edge(vid, init, "initializer")
                    self.edge(init, "DFG", vid)
        # exactly ONE `;` per clause separator: `for (;;)` has empty
        # init/cond clauses, so greedy skip_semis would overrun into `)`
        if self.peek().kind == ";":
            self.next()
        cond = None
        if self.peek().text not in (";", ")"):
            cond, _ = self.parse_expr(path + ".cond")
            if cond:
                self.ast_edge(nid, cond, "condition")
        if self.peek().kind == ";":
            self.next()
        if self.peek().text != ")":
            upd, _ = self.parse_expr(path + ".update")
            if upd:
                self.ast_edge(nid, upd, "iterationStatement")
        self.accept("op", ")")
        body = self._branch_body(path + ".body", nid, "statement")
        return (nid, {"kind": "while", "nid": nid, "cond": cond,
                      "body": body})

    def parse_return(self, path: str):
        t = self.next()
        nid = self.node(path, "ReturnStatement", loc=self._tloc(t))
        if self.peek().kind != ";" and self.peek().text not in ("}",):
            eid, _ = self.parse_expr(path + ".val")
            if eid:
                self.ast_edge(nid, eid, "returnValue")
                self.edge(eid, "DFG", nid)
        self.skip_semis()
        return (nid, {"kind": "return", "nid": nid})

    def parse_switch(self, path: str):
        """`switch (e) { case c: ...; default: ... }` -> SwitchStatement.

        JS case bodies fall through to the next case label unless a break
        exits — same EOG contract as the C-family switch (eog.py
        handleSwitchStatement shape, ``fallthrough: True``)."""
        t = self.next()  # 'switch'
        nid = self.node(path, "SwitchStatement", loc=self._tloc(t))
        self.expect("op") if self.peek().text == "(" else None
        sel, _ = self.parse_expr(path + ".sel")
        self.accept("op", ")")
        if sel:
            self.ast_edge(nid, sel, "selector")
            self.edge(sel, "DFG", nid)
        self.expect("op") if self.peek().text == "{" else None
        cases = []
        ci = 0
        while not self.accept("op", "}"):
            if self.peek().kind == "eof":
                raise TsParseError("unterminated switch body")
            self.skip_semis()
            tt = self.peek()
            if tt.kind == "ident" and tt.text == "case":
                self.next()
                cnid = self.node(f"{path}.case[{ci}]", "CaseStatement",
                                 loc=self._tloc(tt))
                eid, _ = self.parse_expr(f"{path}.case[{ci}].e")
                if eid:
                    self.ast_edge(cnid, eid, "caseExpression")
                self.accept("op", ":")
                stmts = self._case_body(f"{path}.case[{ci}]", cnid)
                self.ast_edge(nid, cnid, "statements", index=ci)
                cases.append({"nid": cnid, "stmts": stmts,
                              "default": False})
            elif tt.kind == "ident" and tt.text == "default":
                self.next()
                self.accept("op", ":")
                cnid = self.node(f"{path}.default", "DefaultStatement",
                                 loc=self._tloc(tt))
                stmts = self._case_body(f"{path}.default", cnid)
                self.ast_edge(nid, cnid, "statements", index=ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": True})
            else:
                self.next()
                continue
            ci += 1
        return (nid, {"kind": "switch", "nid": nid, "cond": sel,
                      "cases": cases, "fallthrough": True})

    def _case_body(self, path: str, cnid: str) -> list[dict]:
        """Statements of one case arm, up to the next case/default/}."""
        infos: list[dict] = []
        si = 0
        while True:
            self.skip_semis()
            tt = self.peek()
            if tt.kind == "eof" or tt.text == "}" or (
                    tt.kind == "ident" and tt.text in ("case", "default")):
                return infos
            pair = self.parse_stmt(f"{path}.s[{si}]", cnid, si)
            if pair is not None:
                self.ast_edge(cnid, pair[0], "statements", index=si)
                infos.append(pair[1])
            si += 1

    def parse_try(self, path: str):
        """`try {} catch (e) {} finally {}` -> TryStatement + CatchClause;
        the optional catch binding (`catch {`) is ES2019."""
        t = self.next()  # 'try'
        nid = self.node(path, "TryStatement", loc=self._tloc(t))
        self.expect("op") if self.peek().text == "{" else None
        bid = self.node(path + ".body", "CompoundStatement")
        self.ast_edge(nid, bid, "tryBlock")
        body = self.parse_block_body(path + ".body", bid)
        catches = []
        final = None
        ci = 0
        while self.peek().kind == "ident" and self.peek().text in (
                "catch", "finally"):
            kw = self.next().text
            if kw == "finally":
                self.expect("op") if self.peek().text == "{" else None
                fid = self.node(path + ".fin", "CompoundStatement")
                self.ast_edge(nid, fid, "finallyBlock")
                final = self.parse_block_body(path + ".fin", fid)
                break
            cnid = self.node(f"{path}.cat[{ci}]", "CatchClause",
                             loc=self._tloc(t))
            self.ast_edge(nid, cnid, "catchClauses", index=ci)
            self.enter_scope("block", "", cnid)
            if self.accept("op", "("):
                if self.peek().kind == "ident":
                    p = self.next()
                    self._type_annotation()  # `catch (e: unknown)`
                    pid = self.node(f"{path}.cat[{ci}].p",
                                    "VariableDeclaration", p.text,
                                    loc=self._tloc(p))
                    self.ast_edge(cnid, pid, "parameter")
                    self.declare(p.text, pid, "var", None)
                self.accept("op", ")")
            self.expect("op") if self.peek().text == "{" else None
            cstmts = self.parse_block_body(f"{path}.cat[{ci}].b", cnid)
            self.leave_scope()
            catches.append({"nid": cnid, "stmts": cstmts})
            ci += 1
        return (nid, {"kind": "try", "nid": nid, "body": body,
                      "catches": catches, "final": final})

    # ---------------------------------------------------------- expressions
    def parse_expr(self, path: str, min_prec: int = 1):
        """Returns (node_id, inferred_type|None)."""
        lhs = self.parse_unary(path)
        lhs = self._binary_rhs(lhs, path, min_prec)
        # `x as T` / `x as const` / `x satisfies T` — type-level postfix
        # operators (erased at runtime): a CastExpression over the value
        while (self.peek().kind == "ident"
               and self.peek().text in ("as", "satisfies")):
            kw = self.next()
            if (self.peek().kind == "ident"
                    and self.peek().text == "const"):
                self.next()
                tname = "const"
            else:
                tname = self._parse_type()
            cid = self.node(self._p(path + ".as"), "CastExpression",
                            kw.text, loc=self._tloc(kw))
            if lhs[0]:
                self.ast_edge(cid, lhs[0], "expression")
                self.edge(lhs[0], "DFG", cid)
            if tname and tname != "const":
                self.eval_type(cid, tname)
            lhs = (cid, tname if tname != "const" else lhs[1])
        # assignment (right-assoc, lowest)
        if self.peek().kind == "op" and self.peek().text in _ASSIGN_OPS:
            op = self.next()
            rhs, _ = self.parse_expr(path + ".rhs")
            bid = self.node(path + f".assign", "BinaryOperator", op.text,
                            loc=self._tloc(op))
            if lhs[0]:
                self.ast_edge(bid, lhs[0], "lhs")
                self._mark_write(lhs[0], members=False)
            if rhs:
                self.ast_edge(bid, rhs, "rhs")
                self.edge(rhs, "DFG", bid)
                if lhs[0]:
                    self.edge(rhs, "DFG", lhs[0])
            return bid, None
        # ternary
        if self.accept("op", "?"):
            then_e, _ = self.parse_expr(path + ".then")
            self.expect("op") if self.peek().text == ":" else None
            else_e, _ = self.parse_expr(path + ".else")
            cid = self.node(path + ".cond", "ConditionalExpression")
            for fld, e in (("condition", lhs[0]), ("thenExpr", then_e),
                           ("elseExpr", else_e)):
                if e:
                    self.ast_edge(cid, e, fld)
                    self.edge(e, "DFG", cid)
            return cid, None
        return lhs

    def _binary_rhs(self, lhs, path: str, min_prec: int):
        while True:
            t = self.peek()
            op = t.text if t.kind == "op" else (
                t.text if t.kind == "ident" and t.text in ("instanceof", "in")
                else None)
            prec = _PREC.get(op or "", 0)
            if not op or prec < min_prec:
                return lhs
            self.next()
            rhs = self.parse_unary(path + f".r{prec}")
            rhs = self._binary_rhs(rhs, path + f".r{prec}", prec + 1)
            bid = self.node(self._p(path + f".bin"), "BinaryOperator", op,
                            loc=self._tloc(t))
            if lhs[0]:
                self.ast_edge(bid, lhs[0], "lhs")
                self.edge(lhs[0], "DFG", bid)
            if rhs[0]:
                self.ast_edge(bid, rhs[0], "rhs")
                self.edge(rhs[0], "DFG", bid)
            lhs = (bid, None)

    def parse_unary(self, path: str):
        t = self.peek()
        if t.kind == "op" and t.text in ("!", "-", "+", "~", "++", "--"):
            self.next()
            operand = self.parse_unary(path + ".u")
            uid = self.node(self._p(path + ".un"), "UnaryOperator", t.text,
                            loc=self._tloc(t))
            if operand[0]:
                self.ast_edge(uid, operand[0], "input")
                self.edge(operand[0], "DFG", uid)
            return (uid, None)
        if t.kind == "ident" and t.text in ("typeof", "await", "delete",
                                            "yield"):
            self.next()
            if (t.text == "yield" and self.peek().kind == "op"
                    and self.peek().text == "*"):
                self.next()  # `yield* other()` delegation
            operand = self.parse_unary(path + ".u")
            uid = self.node(self._p(path + ".un"), "UnaryOperator", t.text,
                            loc=self._tloc(t))
            if operand[0]:
                self.ast_edge(uid, operand[0], "input")
                self.edge(operand[0], "DFG", uid)
            return (uid, None)
        return self.parse_postfix(path)

    def parse_postfix(self, path: str):
        base = self.parse_operand(path)
        while True:
            t = self.peek()
            if t.text == ".":
                self.next()
                sel = self.expect("ident")
                if self.peek().text == "(":
                    base = self.member_call(base, sel, path)
                else:
                    mid = self.node(self._p(path + ".mem"),
                                    "MemberExpression", sel.text,
                                    loc=self._tloc(sel))
                    if base[0]:
                        self.ast_edge(mid, base[0], "base")
                        self.edge(base[0], "DFG", mid)
                    self.pending_members.append(
                        (mid, sel.text, base[2] if len(base) > 2 else None,
                         list(self.scopes), None, "read"))
                    base = (mid, None, None)
            elif t.text == "(":
                base = self.plain_call(base, path)
            elif t.text == "[":
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
            elif t.kind == "op" and t.text == "?" \
                    and self.peek(1).text == ".":
                # optional chain `a?.b` / `a?.[c]` / `a?.(x)` — drop the
                # `?` (short-circuit semantics carry no CPG weight) and
                # re-enter the member/subscript/call arms
                self.next()
                if self.peek(1).kind != "ident":
                    self.next()  # the '.' of `?.[` / `?.(`
            elif t.kind == "op" and t.text == "!" and self.peek(1).text in (
                    ".", "(", "[", ";", ")", ",", "]", "}") :
                self.next()  # non-null assertion `a!.b` — type-level only
            elif t.text in ("++", "--"):
                self.next()
                uid = self.node(self._p(path + ".post"), "UnaryOperator",
                                t.text, loc=self._tloc(t))
                if base[0]:
                    self.ast_edge(uid, base[0], "input")
                    self.edge(base[0], "DFG", uid)
                    self._mark_write(base[0], members=False)
                base = (uid, None, None)
            else:
                return base[:2]

    def plain_call(self, base, path: str):
        cid = self.node(self._p(path + ".call"), "CallExpression",
                        base[3] if len(base) > 3 and base[3] else "")
        args = self._parse_args(cid, path)
        if len(base) > 3 and base[3]:
            # direct identifier call — drop the ref node's pending entry,
            # route resolution through the call tables
            self._drop_pending_ref(base[0])
            self.pending_calls.append(
                (cid, base[3], list(self.scopes), args))
        elif base[0]:
            # computed callee (lambda value, member chain result)
            self.ast_edge(cid, base[0], "callee")
            self.edge(base[0], "DFG", cid)
        return (cid, None, None)

    def member_call(self, base, sel: Tok, path: str):
        mid = self.node(self._p(path + ".mcall"), "MemberCallExpression",
                        sel.text, loc=self._tloc(sel))
        if base[0]:
            self.ast_edge(mid, base[0], "base")
            self.edge(base[0], "DFG", mid)
        args = self._parse_args(mid, path)
        self.pending_members.append(
            (mid, sel.text, base[2] if len(base) > 2 else None,
             list(self.scopes), args, "call"))
        return (mid, None, None)

    def _parse_args(self, call_id: str, path: str) -> list[dict]:
        self.expect("op") if self.peek().text == "(" else None
        args = []
        ai = 0
        while not self.accept("op", ")"):
            if self.peek().kind == "eof":
                raise TsParseError("unterminated argument list")
            eid, _ = self.parse_expr(f"{path}.arg[{ai}]")
            if eid:
                self.ast_edge(call_id, eid, "arguments", index=ai)
                self.edge(eid, "DFG", call_id)
                args.append({"arg_id": eid, "index": ai})
            self.accept("op", ",")
            ai += 1
        return args

    def parse_operand(self, path: str):
        """Returns (node_id, type, base_name_for_members, callable_name)."""
        t = self.peek()
        if t.kind in ("int", "float"):
            self.next()
            lid = self.node(self._p(path + ".lit"), "Literal", t.text,
                            loc=self._tloc(t), code=t.text)
            self.eval_type(lid, "number")
            return (lid, "number", None)
        if t.kind == "string":
            self.next()
            lid = self.node(self._p(path + ".lit"), "Literal",
                            t.text.strip("'\"")[:60], loc=self._tloc(t))
            self.eval_type(lid, "string")
            return (lid, "string", None)
        if t.kind == "template":
            self.next()
            lid = self.node(self._p(path + ".tpl"), "Literal",
                            t.text[1:-1][:60], loc=self._tloc(t))
            self.eval_type(lid, "string")
            # ${expr} identifiers feed the template's DFG
            for m in _TEMPLATE_EXPR_RE.finditer(t.text):
                root = m.group(1).split(".")[0]
                d = self.resolve(root)
                if d is not None:
                    self.edge(d["decl_id"], "DFG", lid)
            return (lid, "string", None)
        if t.kind == "ident":
            if t.text in ("true", "false"):
                self.next()
                lid = self.node(self._p(path + ".lit"), "Literal", t.text,
                                loc=self._tloc(t))
                self.eval_type(lid, "boolean")
                return (lid, "boolean", None)
            if t.text in ("null", "undefined"):
                self.next()
                lid = self.node(self._p(path + ".lit"), "Literal", t.text,
                                loc=self._tloc(t))
                return (lid, None, None)
            if t.text == "new":
                self.next()
                if self.peek().kind == "op" and self.peek().text == ".":
                    # `new.target` meta-property (ES2015)
                    self.next()
                    self.accept_kw("target")
                    rid_ = self.node(self._p(path + ".newt"),
                                     "DeclaredReferenceExpression",
                                     "new.target", loc=self._tloc(t))
                    return (rid_, None, None)
                if self.peek().kind == "op" and self.peek().text == "(":
                    # computed constructor `new (P || Promise)(args)`
                    self.next()
                    callee, _ = self.parse_expr(path + ".newc")
                    self.accept("op", ")")
                    nid = self.node(self._p(path + ".new"),
                                    "NewExpression", "",
                                    loc=self._tloc(t))
                    if callee:
                        self.ast_edge(nid, callee, "callee")
                        self.edge(callee, "DFG", nid)
                    if self.peek().text == "(":
                        self._parse_args(nid, path)
                    return (nid, None, None)
                cls = self.expect("ident")
                while (self.peek().kind == "op" and self.peek().text == "."
                       and self.peek(1).kind == "ident"):
                    # qualified constructor `new mod.Cls(...)`
                    self.next()
                    cls = self.next()
                nid = self.node(self._p(path + ".new"), "NewExpression",
                                cls.text, loc=self._tloc(cls))
                self.eval_type(nid, cls.text)
                if self.peek().text == "<":
                    self._parse_type()  # swallow generic args
                if self.peek().text == "(":
                    self._parse_args(nid, path)
                d = self.resolve(cls.text)
                if d is not None and d["kind"] == "record":
                    self.edge(nid, "INSTANTIATES", d["decl_id"])
                return (nid, cls.text, cls.text)
            if t.text == "this":
                self.next()
                rec = self.current_record()
                rid_ = self.node(self._p(path + ".this"),
                                 "DeclaredReferenceExpression", "this",
                                 loc=self._tloc(t))
                if rec is not None and rec.node_id:
                    self.edge(rid_, "REFERS_TO", rec.node_id)
                    self.eval_type(rid_, rec.name)
                return (rid_, rec.name if rec else None,
                        rec.name if rec else None)
            if t.text == "function":  # function expression
                fid = self.parse_function(self._p(path + ".fnexpr"))
                return (fid, None, None)
            if t.text == "async":
                # `async () => ...` / `async x => ...` / `async function`
                # — the async marker is shape-only (Promise semantics
                # carry no CPG weight)
                nxt = self.peek(1)
                if nxt.kind == "ident" and nxt.text == "function":
                    self.next()
                    fid = self.parse_function(self._p(path + ".fnexpr"))
                    return (fid, None, None)
                if nxt.kind == "ident" and self.peek(2).text == "=>":
                    self.next()
                    lam = self.parse_arrow(self._p(path + ".lam"))
                    return (lam, None, None)
                if nxt.kind == "op" and nxt.text in ("(", "<"):
                    j = self.i + 1
                    if self.toks[j].text == "<":  # generic async arrow
                        d = 0
                        while j < len(self.toks):
                            if self.toks[j].text == "<":
                                d += 1
                            elif self.toks[j].text == ">":
                                d -= 1
                                if d == 0:
                                    j += 1
                                    break
                            j += 1
                    if j < len(self.toks) and self.toks[j].text == "(":
                        depth = 1
                        j += 1
                        while j < len(self.toks) and depth:
                            if self.toks[j].text == "(":
                                depth += 1
                            elif self.toks[j].text == ")":
                                depth -= 1
                            j += 1
                        # skip a return-type annotation up to `=>`
                        k = self._scan_past_return_type(j)
                        if k < len(self.toks) \
                                and self.toks[k].text == "=>":
                            self.next()  # 'async'
                            if self.peek().text == "<":
                                self._skip_type_params()
                            lam = self.parse_arrow(
                                self._p(path + ".lam"))
                            return (lam, None, None)
            # arrow lookahead: ident => ...
            if self.peek(1).text == "=>":
                lam = self.parse_arrow(self._p(path + ".lam"))
                return (lam, None, None)
            self.next()
            name = t.text
            rid_ = self.node(self._p(path + ".ref"),
                             "DeclaredReferenceExpression", name,
                             loc=self._tloc(t))
            d = self.resolve(name)
            base_name = name
            if d is None and name in self.imports:
                pass  # resolved cross-document at link time
            self.pending_refs.append((rid_, name, list(self.scopes), "read"))
            return (rid_, d.get("type") if d else None, base_name, name)
        if t.text == "(":
            # arrow lookahead: scan for `) =>` (or `): Type =>`)
            j = self.i + 1
            depth = 1
            while j < len(self.toks) and depth:
                if self.toks[j].text == "(":
                    depth += 1
                elif self.toks[j].text == ")":
                    depth -= 1
                j += 1
            k = self._scan_past_return_type(j)
            if k < len(self.toks) and self.toks[k].text == "=>":
                lam = self.parse_arrow(self._p(path + ".lam"))
                return (lam, None, None)
            self.next()
            inner = self.parse_expr(path + ".paren")
            self.accept("op", ")")
            return (inner[0], inner[1], None)
        if t.text == "{":
            # object literal -> ConstructExpression with keyed inits
            self.next()
            oid = self.node(self._p(path + ".obj"), "ConstructExpression",
                            "object", loc=self._tloc(t))
            ki = 0
            while not self.accept("op", "}"):
                if self.peek().kind == "op" and self.peek().text == "...":
                    # spread property `{ ...(base || {}), k: v }` — the
                    # spread value flows into the literal
                    self.next()
                    val, _ = self.parse_expr(f"{path}.obj.sp[{ki}]")
                    if val:
                        self.ast_edge(oid, val, "arguments", index=ki)
                        self.edge(val, "DFG", oid)
                    self.accept("op", ",")
                    ki += 1
                elif self.peek().kind == "op" and self.peek().text == "[":
                    # computed key `{ [k]: v }`
                    self.next()
                    self.parse_expr(f"{path}.obj.k[{ki}]")
                    self.accept("op", "]")
                    if self.accept("op", ":"):
                        val, _ = self.parse_expr(f"{path}.obj.v[{ki}]")
                        if val:
                            self.ast_edge(oid, val, "arguments", index=ki)
                            self.edge(val, "DFG", oid)
                    self.accept("op", ",")
                    ki += 1
                elif self.peek().kind in ("ident", "string", "int",
                                          "float"):
                    key = self.next()
                    if (self.peek().kind == "op"
                            and self.peek().text == "("):
                        # object method shorthand `{ m(a) { ... } }` —
                        # parse as a lambda-valued property
                        fid = self.parse_function(
                            f"{path}.obj.m[{ki}]", name_tok=key)
                        if fid:
                            self.ast_edge(oid, fid, "arguments", index=ki)
                    elif self.accept("op", ":"):
                        val, _ = self.parse_expr(f"{path}.obj.v[{ki}]")
                        if val:
                            self.ast_edge(oid, val, "arguments", index=ki)
                            self.edge(val, "DFG", oid)
                    else:
                        d = self.resolve(key.text)  # shorthand {x}
                        if d is not None:
                            self.edge(d["decl_id"], "DFG", oid)
                    self.accept("op", ",")
                    ki += 1
                elif self.peek().kind == "eof":
                    raise TsParseError("unterminated object literal")
                else:
                    # unknown member form: skip BALANCED so nested braces
                    # can't eat the literal's closer
                    tk = self.next()
                    if tk.kind == "op" and tk.text in ("{", "[", "("):
                        close = {"{": "}", "[": "]", "(": ")"}[tk.text]
                        d = 1
                        while self.peek().kind != "eof" and d:
                            t2 = self.next()
                            if t2.kind == "op" and t2.text == tk.text:
                                d += 1
                            elif t2.kind == "op" and t2.text == close:
                                d -= 1
            return (oid, None, None)
        if t.text == "[":
            self.next()
            aid = self.node(self._p(path + ".arr"), "InitializerListExpression",
                            loc=self._tloc(t))
            ai = 0
            while not self.accept("op", "]"):
                if self.peek().kind == "eof":
                    raise TsParseError("unterminated array literal")
                e, _ = self.parse_expr(f"{path}.arr[{ai}]")
                if e:
                    self.ast_edge(aid, e, "initializers", index=ai)
                    self.edge(e, "DFG", aid)
                self.accept("op", ",")
                ai += 1
            return (aid, None, None)
        if t.kind == "regex":
            self.next()
            lid = self.node(self._p(path + ".re"), "Literal", t.text[:60],
                            loc=self._tloc(t))
            self.eval_type(lid, "RegExp")
            return (lid, "RegExp", None)
        if t.text == "<" and (self.peek(1).kind == "ident"
                              or self.peek(1).text in (">", "/")):
            if self._looks_like_angle_cast():
                # legacy TS cast `<T>expr` (CastExpression like `as T`)
                self.next()
                tname = self._parse_type()
                self.accept("op", ">")
                val, _ = self.parse_unary(path + ".castv")
                cid = self.node(self._p(path + ".cast"), "CastExpression",
                                tname or "", loc=self._tloc(t))
                if tname:
                    self.eval_type(cid, tname)
                if val:
                    self.ast_edge(cid, val, "expression")
                    self.edge(val, "DFG", cid)
                return (cid, tname, None)
            return self.parse_jsx(path)
        if t.kind == "eof":
            raise TsParseError("unexpected end of input in expression")
        # unknown token — consume and degrade
        self.next()
        eid = self.node(self._p(path + ".expr"), "Expression", t.text[:30])
        return (eid, None, None)

    _TYPEISH_OPS = {".", ",", "[", "]", "<", ">", "|", "&"}

    def _looks_like_angle_cast(self) -> bool:
        """Disambiguate legacy cast ``<T>expr`` from a JSX element at an
        operand-position ``<``: cast iff the angle segment holds only
        type-shaped tokens, the matching ``>`` is followed by an
        expression starter, and that expression is not immediately chased
        by a ``</`` closing tag (``<div>hello</div>``)."""
        d = 0
        j = self.i
        n = len(self.toks)
        while j < n:
            tk = self.toks[j]
            if tk.kind == "eof":
                return False
            if tk.kind == "op" and tk.text == "<":
                d += 1
            elif tk.kind == "op" and tk.text == ">":
                d -= 1
                if d == 0:
                    break
            elif tk.kind == "op" and tk.text in (">>", ">>>"):
                d -= 2 if tk.text == ">>" else 3
                if d <= 0:
                    break
            elif tk.kind == "ident":
                pass
            elif tk.kind == "op" and tk.text in self._TYPEISH_OPS:
                pass
            else:  # strings, `=`, `/` — attribute syntax, not a type
                return False
            j += 1
        if d > 0 or j + 1 >= n:
            return False
        nxt = self.toks[j + 1]
        starts_expr = (nxt.kind in ("ident", "int", "float", "string")
                       or (nxt.kind == "op" and nxt.text in ("(", "[")))
        if not starts_expr:
            return False
        # JSX text children: a closing `</...` anywhere before the next
        # statement terminator means `<tag> ... </tag>` — not a cast.
        # The old check looked only at toks[j+2]/toks[j+3], so
        # attribute-less JSX with multi-token text (`<p>hello world</p>`)
        # was misread as a legacy cast (round-5 ADVICE fix).
        k = j + 1
        limit = min(n, j + 300)
        while k < limit:
            tk = self.toks[k]
            if tk.kind == "eof" or (tk.kind == "op" and tk.text == ";"):
                break
            if tk.kind == "op" and (
                    tk.text == "</"
                    or (tk.text == "<" and k + 1 < n
                        and self.toks[k + 1].kind == "op"
                        and self.toks[k + 1].text == "/")):
                return False
            k += 1
        return True

    def parse_jsx(self, path: str):
        """Minimal JSX element: attributes and ``{expr}`` holes parse as
        real expressions feeding the element's DFG; raw text is skipped.
        (The reference's TSX support flows through the same Node bridge;
        element semantics beyond embedded expressions are presentation.)"""
        self.next()  # '<'
        tag = self.next().text if self.peek().kind == "ident" else "<>"
        jid = self.node(self._p(path + ".jsx"), "Expression", tag,
                        props={"jsx": "true"})
        while True:  # attributes
            t = self.peek()
            if t.kind == "eof":
                raise TsParseError("unterminated JSX element")
            if t.text == "/" and self.peek(1).text == ">":
                self.next(); self.next()
                return (jid, None, None)
            if t.text == ">":
                self.next()
                break
            if t.text == "{":
                self.next()
                e, _ = self.parse_expr(path + ".jsxattr")
                self.accept("op", "}")
                if e:
                    self.edge(e, "DFG", jid)
            elif t.kind == "ident" and self.peek(1).text == "=":
                self.next(); self.next()
                if self.peek().text == "{":
                    self.next()
                    e, _ = self.parse_expr(path + ".jsxattr")
                    self.accept("op", "}")
                    if e:
                        self.edge(e, "DFG", jid)
                else:
                    self.next()
            else:
                self.next()
        while True:  # children
            t = self.peek()
            if t.kind == "eof":
                raise TsParseError("unterminated JSX element")
            if t.text == "<" and self.peek(1).text == "/":
                self.next(); self.next()
                if self.peek().kind == "ident":
                    self.next()
                self.accept("op", ">")
                return (jid, None, None)
            if t.text == "<":
                child = self.parse_jsx(path)
                if child[0]:
                    self.ast_edge(jid, child[0], "children")
                continue
            if t.text == "{":
                self.next()
                e, _ = self.parse_expr(path + ".jsxchild")
                self.accept("op", "}")
                if e:
                    self.ast_edge(jid, e, "children")
                    self.edge(e, "DFG", jid)
                continue
            self.next()  # raw text

    def _parse_decorators(self, owner: str):
        """``@name`` / ``@name(args)`` -> Annotation nodes on the owner
        (the reference maps TS decorators to annotations)."""
        while self.peek().text == "@":
            at = self.next()
            n = self.expect("ident")
            aid = self.node(self._p("annot"), "Annotation", n.text,
                            loc=self._tloc(at))
            self.ast_edge(owner, aid, "annotations")
            if self.peek().text == "(":
                self._parse_args(aid, self._p("annot.args"))
            self.skip_semis()  # ASI after a bare `@name` line

    # ------------------------------------------------------------ link-time
    def _member_base_type(self, base_name, scopes):
        bd = self._lookup(scopes, base_name)
        if bd is not None:
            return bd.get("type") or (
                base_name if bd.get("kind") == "record" else None)
        if base_name in self.imports:
            return self.imports[base_name]
        return base_name if base_name in self.records else None

    def _export_symbols(self):
        for fid, info in self._functions_by_id.items():
            if info["name"].startswith("<lambda"):
                continue
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
                "has_defaults": info["has_defaults"],
                "is_variadic": False,
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
                    "fqn": f"{self.module_name}.{rname}.{fname}",
                    "record": rname, "module": self.module_name,
                    "doc_id": self.doc_id, "n_params": None,
                    "has_defaults": None, "is_variadic": None,
                    "param_ids": None, "param_names": None,
                })


def parse_ts_document(doc_id: str, span_offset: int, source: str,
                      module_name: str | None = None) -> DocGraph:
    """Parse one TypeScript/JavaScript span; parse failures degrade to a
    ProblemDeclaration node (never fail the Arrow batch)."""
    return parse_span(TsFrontend, doc_id, span_offset, source, module_name,
                      (TsParseError, RecursionError, IndexError))
