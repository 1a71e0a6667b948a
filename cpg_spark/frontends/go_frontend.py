"""Go language frontend: hand-rolled tokenizer + recursive-descent parser
emitting CPG rows.

Behavioral re-derivation of the reference's Go frontend
(``cpg-language-go/src/main/golang/frontend/handler.go:164-1198``), which
walks ``go/ast`` over JNI.  No Go toolchain or tree-sitter exists in this
container, so this module parses the same Go subset the reference's test
fixtures exercise (``cpg-language-go/src/test/resources/golang/``):

* package clause, imports (grouped / single)
* func declarations incl. receivers (-> MethodDeclaration) and named
  results; params with grouped names
* var / const specs (grouped and single), type declarations: struct
  (FieldDeclarations + FIELDS edges), interface (method signatures), alias
* statements: short var decl ``:=``, assignment (incl. ``+=`` family and
  ``++``/``--`` -> UnaryOperator READWRITE), if/else, 3-clause and
  condition-only for, switch/case/default, return, break/continue, blocks,
  expression statements
* expressions: binary operators with Go precedence, unary ``& * ! - +``,
  calls / member calls / ``new(T)`` (NewExpression) / ``make`` builtin,
  selectors (MemberExpression), index expressions, composite literals
  (ConstructExpression — ``handler.go`` maps CompositeLit the same way),
  basic literals (int/float/string/char/bool/nil)

Anything outside the subset degrades to an ``Expression``/``Statement``
placeholder node — the same graceful-gap semantics as the reference's
NOT_IMPLEMENTED logging (and our Python frontend).

Semicolon handling implements Go's automatic-semicolon-insertion rule
(newline after an ident/literal/closing token terminates the statement).
"""

from __future__ import annotations

import re

from cpg_spark.frontends.base import DocGraph, Tok, TokenFrontend, parse_span
from cpg_spark.frontends.eog import build_eog

_KEYWORDS = {
    "break", "case", "chan", "const", "continue", "default", "defer", "else",
    "fallthrough", "for", "func", "go", "goto", "if", "import", "interface",
    "map", "package", "range", "return", "select", "struct", "switch", "type",
    "var",
}

# tokens after which a newline implies a semicolon (Go spec: ASI)
_ASI_AFTER = {"ident", "int", "float", "string", "char", ")", "]", "}", "++",
              "--"}
_ASI_KEYWORDS = {"break", "continue", "fallthrough", "return"}

_TOKEN_RE = re.compile(
    r"""
      (?P<comment>//[^\n]*|/\*.*?\*/)
    | (?P<string>"(?:\\.|[^"\\])*"|`[^`]*`)
    | (?P<char>'(?:\\.|[^'\\])')
    | (?P<float>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+)
    | (?P<int>0[xX][0-9a-fA-F]+|\d+)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><<=|>>=|&\^=|\.\.\.|&&|\|\||<-|\+\+|--|==|!=|<=|>=|:=|\+=|-=|\*=|/=|%=|&=|\|=|\^=|<<|>>|&\^|[+\-*/%&|^<>=!:.,;(){}\[\]])
    | (?P<nl>\n)
    | (?P<ws>[ \t\r]+)
    """,
    re.VERBOSE | re.DOTALL,
)

# binary precedence, Go spec §Operators
_PREC = {
    "||": 1, "&&": 2,
    "==": 3, "!=": 3, "<": 3, "<=": 3, ">": 3, ">=": 3,
    "+": 4, "-": 4, "|": 4, "^": 4,
    "*": 5, "/": 5, "%": 5, "<<": 5, ">>": 5, "&": 5, "&^": 5,
}

_ASSIGN_OPS = {"=", "+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=", "<<=",
               ">>=", "&^="}


def tokenize(src: str) -> list[Tok]:
    toks: list[Tok] = []
    line, col = 1, 0
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            pos += 1  # skip unknown byte
            col += 1
            continue
        kind = m.lastgroup
        text = m.group()
        if kind == "nl":
            # automatic semicolon insertion
            if toks and (
                toks[-1].kind in _ASI_AFTER
                or (toks[-1].kind == "ident" and toks[-1].text in _ASI_KEYWORDS)
            ) and not (toks and toks[-1].kind == ";"):
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
            k = text if kind == "op" else kind
            toks.append(Tok(k, text, line, col))
            col += len(text)
        pos = m.end()
    toks.append(Tok(";", ";", line, col))
    toks.append(Tok("eof", "", line, col))
    return toks


class GoParseError(Exception):
    pass


class GoFrontend(TokenFrontend):
    """Parses one Go source span; emits the same row vocabulary as the
    Python frontend (SURVEY.md §2.2 F3)."""

    ParseError = GoParseError
    EXPECT_MSG = "expected {want}, got {t.kind}@{t.line}"

    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str):
        super().__init__(doc_id, span_offset, source, module_name,
                         tokenize(source))
        # methods parsed before their receiver type declaration
        self._pending_methods: list[tuple[str, str, str]] = []
        self._no_composite: int = 0  # composite-literal ban depth (if/for/switch headers)
        self._path_n = 0

    def _p(self, tag: str) -> str:
        """Fresh ast-path for node ids (deterministic per parse order)."""
        self._path_n += 1
        return f"go.{tag}.{self._path_n}"

    def _tloc(self, t: Tok):
        return (t.line, t.col, t.line, t.col + max(len(t.text), 1))

    # --------------------------------------------------------------- file
    def run(self) -> DocGraph:
        self.skip_semis()
        self.expect("ident")  # 'package'
        pkg = self.expect("ident").text
        self.module_name = pkg
        tu_id = self.node("", "TranslationUnitDeclaration", self.module_name,
                          None, code="")
        ns_id = self.node("ns", "NamespaceDeclaration", pkg, None, code="")
        self.ast_edge(tu_id, ns_id, "DECLARATIONS", 0)
        self.enter_scope("module", pkg, ns_id)
        self.skip_semis()
        infos = []
        di = 0
        while self.peek().kind != "eof":
            # panic-mode per-declaration recovery: one bad construct ->
            # one located ProblemDeclaration, the rest of the file parses
            pid = self._guard_top(self._top_decl, ns_id, infos, di)
            if pid is not None:
                self.ast_edge(ns_id, pid, "DECLARATIONS", di)
            di += 1
            self.skip_semis()
        self._attach_pending_methods()
        build_eog(self, ns_id, infos)
        self._module_decls = dict(self.scopes[-1].decls)
        self.leave_scope()
        self._resolve_locally()
        self._export_symbols()
        return self.out

    def _top_decl(self, ns_id: str, infos: list, di: int) -> None:
        t = self.peek()
        if t.kind == "ident" and t.text == "import":
            self.parse_imports(ns_id, di)
        elif t.kind == "ident" and t.text == "func":
            fid = self.parse_func(self._p("func"))
            if fid:
                self.ast_edge(ns_id, fid, "DECLARATIONS", di)
        elif t.kind == "ident" and t.text in ("var", "const"):
            nid, info = self.parse_var_decl(self._p("var"))
            if nid:
                self.ast_edge(ns_id, nid, "DECLARATIONS", di)
                infos.append(info)
        elif t.kind == "ident" and t.text == "type":
            nid = self.parse_type_decl(self._p("type"))
            if nid:
                self.ast_edge(ns_id, nid, "DECLARATIONS", di)
        else:
            # unknown top-level construct: skip one token
            self.next()

    # ------------------------------------------------------------ imports
    def parse_imports(self, ns_id: str, di: int) -> None:
        """ImportSpec -> IncludeDeclaration (reference handler.go ImportSpec
        dispatch at :583-637); alias registered for member-call bases."""
        self.next()  # 'import'
        specs = []
        if self.accept("("):
            self.skip_semis()
            while self.peek().kind != ")" and self.peek().kind != "eof":
                specs.append(self._one_import())
                self.skip_semis()
            self.expect(")")
        else:
            specs.append(self._one_import())
        for j, (alias, path) in enumerate(specs):
            iid = self.node(self._p("import"), "IncludeDeclaration", path,
                            None, code=path)
            self.ast_edge(ns_id, iid, "INCLUDES", j)
            self.imports[alias] = path
            self.out.mentions.append(self._mention(iid, "import", path,
                                                   base_type=path))

    def _one_import(self):
        alias = None
        if self.peek().kind == "ident":
            alias = self.next().text
        t = self.expect("string")
        path = t.text.strip('"`')
        if alias is None:
            alias = path.rsplit("/", 1)[-1]
        return alias, path

    # ----------------------------------------------------------- func decl
    def parse_func(self, path: str) -> str | None:
        self.next()  # 'func'
        recv_name = recv_type = None
        if self.accept("("):
            # receiver: (name Type) | (name *Type)
            recv_name = self.expect("ident").text
            recv_type = self.parse_type_name()
            self.expect(")")
        name_t = self.expect("ident")
        name = name_t.text
        if self.peek().kind == "[":
            # generic type parameters `func Map[T any, U any](...)`
            # (Go 1.18): erased — any ident parses as a type name in the
            # body already, and resolution is name-based
            self._skip_bracket_group()
        label = "MethodDeclaration" if recv_type else "FunctionDeclaration"
        fid = self.node(path, label, name, self._tloc(name_t))
        self.enter_scope("function", name, fid)

        if recv_type:
            rid = self.node(path + ".recv", "VariableDeclaration", recv_name,
                            self._tloc(name_t))
            self.eval_type(rid, recv_type)
            self.edge(fid, "RECEIVER", rid)
            self.declare(recv_name, rid, "receiver", recv_type)

        param_ids, param_names = self.parse_params(fid, path)

        # results: single type, or parenthesized (possibly named) list
        if self.peek().kind not in ("{", ";", "eof"):
            if self.accept("("):
                ri = 0
                while self.peek().kind != ")" and self.peek().kind != "eof":
                    if (self.peek().kind == "ident"
                            and self.peek(1).kind in ("ident", "*", "[", "map",
                                                      "chan")):
                        # named result -> VariableDeclaration in func scope
                        # (function.go: `err = nil` resolves to result err)
                        rn = self.next().text
                        rt = self.parse_type_name()
                        vid = self.node(f"{path}.res[{ri}]",
                                        "VariableDeclaration", rn, None)
                        if rt:
                            self.eval_type(vid, rt)
                        self.declare(rn, vid, "var", rt)
                        self.ast_edge(fid, vid, "RETURN_TYPES", ri)
                    else:
                        self.parse_type_name()
                    ri += 1
                    if not self.accept(","):
                        break
                self.expect(")")
            else:
                self.parse_type_name()

        if self.peek().kind == "{":
            infos = self.parse_block(path + ".body", fid, "BODY")
            build_eog(self, fid, infos)
        self.leave_scope()
        self.declare(name, fid, "function", None)
        fn_info = {
            "decl_id": fid, "kind": "function", "name": name,
            "n_params": len(param_ids), "param_ids": param_ids,
            "param_names": param_names, "record": recv_type,
        }
        self._functions_by_id[fid] = fn_info
        self.scopes[-1].decls[name] = {"decl_id": fid, "kind": "function",
                                       "type": None, "fn": fn_info}
        if recv_type:
            self._pending_methods.append((recv_type, name, fid))
        return fid

    def parse_params(self, fid: str, path: str):
        self.expect("(")
        param_ids, param_names = [], []
        pidx = 0
        group: list[Tok] = []
        while self.peek().kind != ")" and self.peek().kind != "eof":
            if self.peek().kind == "ident" and self.peek(1).kind == ",":
                group.append(self.next())
                self.next()  # ','
                continue
            if self.peek().kind == "ident" and self.peek(1).kind not in (")", ","):
                group.append(self.next())
                if self.peek().kind == "...":
                    # variadic `xs ...int` — arrives as a slice (go spec
                    # "Passing arguments to ... parameters")
                    self.next()
                    tname = "[]" + (self.parse_type_name() or "")
                else:
                    tname = self.parse_type_name()
            else:
                # type-only parameter
                if self.peek().kind == "...":
                    self.next()
                    tname = "[]" + (self.parse_type_name() or "")
                else:
                    tname = self.parse_type_name()
                group = [Tok("ident", f"_p{pidx}", 0, 0)]
            for g in group:
                pid = self.node(f"{path}.p[{pidx}]", "ParamVariableDeclaration",
                                g.text, self._tloc(g) if g.line else None,
                                argument_index=pidx)
                if tname:
                    self.eval_type(pid, tname)
                self.edge(fid, "PARAMETERS", pid, {"index": pidx})
                self.ast_edge(fid, pid, "PARAMETERS", pidx)
                self.declare(g.text, pid, "param", tname)
                param_ids.append(pid)
                param_names.append(g.text)
                pidx += 1
            group = []
            if not self.accept(","):
                break
        self.expect(")")
        return param_ids, param_names

    # ---------------------------------------------------------- type decls
    def _skip_bracket_group(self) -> None:
        """Consume a balanced ``[...]`` (generic type-parameter lists —
        spelling-only in the erased subset)."""
        d = 0
        while self.peek().kind != "eof":
            k = self.peek().kind
            if k == "[":
                d += 1
            elif k == "]":
                d -= 1
                self.next()
                if d == 0:
                    return
                continue
            self.next()

    def parse_type_decl(self, path: str) -> str | None:
        self.next()  # 'type'
        name_t = self.expect("ident")
        name = name_t.text
        if self.peek().kind == "[":
            # generic type declaration `type Pair[K any, V any] struct`
            self._skip_bracket_group()
        t = self.peek()
        if t.kind == "ident" and t.text == "struct":
            return self.parse_struct(name, name_t, path)
        if t.kind == "ident" and t.text == "interface":
            return self.parse_interface(name, name_t, path)
        # alias / defined type: emit a Type alias edge for canonicalization
        self.accept("=")  # `type B = A` alias form
        target = self.parse_type_name()
        tid = self.node(path, "TypedefDeclaration", name, self._tloc(name_t))
        if target:
            self.edge(self.type_node(name), "SUPER_TYPE", self.type_node(target))
        self.declare(name, tid, "record", name)
        return tid

    def parse_struct(self, name: str, name_t: Tok, path: str) -> str:
        """StructType -> RecordDeclaration(kind=struct) with FIELDS
        (reference struct.go fixture; handler.go StructType at :375-)."""
        self.next()  # 'struct'
        rid = self.node(path, "RecordDeclaration", name, self._tloc(name_t),
                        props={"kind": "struct"})
        rec = {"decl_id": rid, "name": name, "fields": {}, "methods": {},
               "ctors": [], "supers": []}
        self.records[name] = rec
        self.declare(name, rid, "record", name)
        self.expect("{")
        self.skip_semis()
        fi = 0
        while self.peek().kind != "}" and self.peek().kind != "eof":
            if self.peek().kind == "*":
                # embedded pointer field `*A`
                self.next()
            names = [self.expect("ident")]
            while self.accept(","):
                names.append(self.expect("ident"))
            ftype = None
            if self.peek().kind not in (";", "}", "string"):
                ftype = self.parse_type_name()
            if self.peek().kind == "string":
                # struct tag `json:"y"` — metadata, no graph weight
                self.next()
            for ft in names:
                fid = self.node(f"{path}.f[{fi}]", "FieldDeclaration", ft.text,
                                self._tloc(ft))
                if ftype:
                    self.eval_type(fid, ftype)
                self.edge(rid, "FIELDS", fid, {"index": fi})
                self.ast_edge(rid, fid, "FIELDS", fi)
                rec["fields"][ft.text] = fid
                fi += 1
            self.skip_semis()
        self.expect("}")
        return rid

    def parse_interface(self, name: str, name_t: Tok, path: str) -> str:
        self.next()  # 'interface'
        rid = self.node(path, "RecordDeclaration", name, self._tloc(name_t),
                        props={"kind": "interface"})
        rec = {"decl_id": rid, "name": name, "fields": {}, "methods": {},
               "ctors": [], "supers": []}
        self.records[name] = rec
        self.declare(name, rid, "record", name)
        self.expect("{")
        self.skip_semis()
        mi = 0
        while self.peek().kind != "}" and self.peek().kind != "eof":
            if self.peek().kind != "ident" or (
                    self.peek().kind == "ident"
                    and self.peek(1).kind == "|"):
                # type-constraint element `~int | ~int8` (Go 1.18
                # interface constraints) — erased like type params
                while self.peek().kind not in (";", "}", "eof"):
                    self.next()
                self.skip_semis()
                continue
            mt = self.expect("ident")
            if self.peek().kind != "(":
                # embedded interface `io.Reader` / `Closer` — a SUPER_TYPE
                # of this interface (go spec "Embedded interfaces"; the
                # reference models Go embedding as supertypes)
                tname = mt.text
                while self.peek().kind == ".":
                    self.next()
                    tname += "." + self.expect("ident").text
                base = tname.split(".")[-1]
                self.edge(rid, "SUPER_TYPE", self.type_node(base))
                rec["supers"].append(base)
                self.skip_semis()
                continue
            mid = self.node(f"{path}.m[{mi}]", "MethodDeclaration", mt.text,
                            self._tloc(mt))
            if self.peek().kind == "(":
                # skip the signature tokens (params + result)
                depth = 0
                while self.peek().kind != "eof":
                    k = self.peek().kind
                    if k == "(":
                        depth += 1
                    elif k == ")":
                        depth -= 1
                        if depth == 0:
                            self.next()
                            break
                    self.next()
                if self.peek().kind == "(":
                    # parenthesized multi-value result
                    # `Encode(s string) (out string, ok bool, err error)`
                    d2 = 0
                    while self.peek().kind != "eof":
                        k = self.peek().kind
                        if k == "(":
                            d2 += 1
                        elif k == ")":
                            d2 -= 1
                            self.next()
                            if d2 == 0:
                                break
                            continue
                        self.next()
                elif self.peek().kind not in (";", "}"):
                    self.parse_type_name()
            self.edge(rid, "METHODS", mid, {"index": mi})
            self.ast_edge(rid, mid, "METHODS", mi)
            rec["methods"].setdefault(mt.text, []).append(mid)
            mi += 1
            self.skip_semis()
        self.expect("}")
        return rid

    def _attach_pending_methods(self) -> None:
        """Methods may precede their receiver type (field.go) — attach
        METHODS edges once all records are known."""
        for recv_type, name, fid in self._pending_methods:
            rec = self.records.get(recv_type)
            if rec is None:
                continue
            rec["methods"].setdefault(name, []).append(fid)
            self.edge(rec["decl_id"], "METHODS", fid,
                      {"index": len(rec["methods"]) - 1})

    # ----------------------------------------------------------- var decls
    def parse_var_decl(self, path: str):
        kw = self.next().text  # 'var' | 'const'
        specs = []
        if self.accept("("):
            self.skip_semis()
            si = 0
            while self.peek().kind != ")" and self.peek().kind != "eof":
                if kw == "const" and self._iota_enum_ahead():
                    specs.append(self._parse_iota_enum(f"{path}.enum[{si}]"))
                else:
                    specs.append(self._var_spec(f"{path}.s[{si}]", kw))
                si += 1
                self.skip_semis()
            self.expect(")")
        else:
            specs.append(self._var_spec(path + ".s", kw))
        ds = self.node(path, "DeclarationStatement", "", None, code="")
        for j, vids in enumerate(specs):
            for vid in vids:
                self.ast_edge(ds, vid, "DECLARATIONS", j)
        return ds, {"kind": "plain", "nid": ds}

    def _iota_enum_ahead(self) -> bool:
        """const spec of the form ``A [, B]* [Type] = iota`` — Go's
        enumerated-constant idiom, modelled as an EnumDeclaration (the
        C-family analogue; Go has no enum type of its own)."""
        j = 0
        if self.peek(j).kind != "ident" or self.peek(j).text == "iota":
            return False
        j += 1
        while self.peek(j).kind == ",":
            if self.peek(j + 1).kind != "ident":
                return False
            j += 2
        if self.peek(j).kind == "ident":
            j += 1  # simple named type
        if self.peek(j).kind != "=":
            return False
        return (self.peek(j + 1).kind == "ident"
                and self.peek(j + 1).text == "iota")

    def _parse_iota_enum(self, path: str) -> list[str]:
        """``A Kind = iota; B; C`` inside a const group ->
        EnumDeclaration named by the shared type with ENTRIES-linked
        EnumConstantDeclaration children (EnumDeclaration.java:38-47),
        each carrying its ordinal as an implicit Literal INITIALIZER
        (+ DFG, the VariableDeclaration.java:118 convention).  Constants
        declare as ordinary scope vars so later references resolve;
        continuation specs may be bare names or re-spell ``= iota``.
        Subset: expression iota forms (``1 << iota``) fall back to plain
        const specs."""
        first = self.peek()
        ids: list[str] = []
        k = 0        # entry index across the group
        ordinal = 0  # iota value: one per SPEC (Go semantics)

        def one_spec() -> None:
            nonlocal k
            names = [self.expect("ident")]
            while self.accept(","):
                names.append(self.expect("ident"))
            if self.peek().kind == "ident":  # shared type re-spelled
                self.next()
            if self.accept("="):
                self.next()  # 'iota'
            for nt in names:
                cid = self.node(f"{path}.e[{k}]", "EnumConstantDeclaration",
                                nt.text, self._tloc(nt))
                self.eval_type(cid, etype)
                self.edge(eid, "ENTRIES", cid, {"index": k})
                self.ast_edge(eid, cid, "ENTRIES", k)
                lid = self.node(f"{path}.e[{k}].lit", "Literal",
                                str(ordinal), self._tloc(nt),
                                code=str(ordinal), is_implicit=True)
                self.eval_type(lid, "int")
                self.ast_edge(cid, lid, "INITIALIZER", 0)
                self.edge(lid, "DFG", cid)
                self.declare(nt.text, cid, "var", etype)
                ids.append(cid)
                k += 1

        # peek past the first spec's names for the shared type name
        j = 1
        while self.peek(j).kind == ",":
            j += 2
        tname = self.peek(j).text if self.peek(j).kind == "ident" else None
        eid = self.node(path, "EnumDeclaration", tname or "",
                        self._tloc(first), props={"idiom": "iota"})
        etype = tname or "int"
        if tname:
            self.declare(tname, eid, "record", tname)
        one_spec()
        self.skip_semis()
        while self.peek().kind == "ident":
            # continuation: bare names, or names `= iota` again; a spec
            # with its own non-iota initializer ends the enum run
            j = 1
            while self.peek(j).kind == ",":
                j += 2
            if self.peek(j).kind == "ident" and self.peek(j).text != "iota":
                j += 1  # type
            if self.peek(j).kind == "=":
                if not (self.peek(j + 1).kind == "ident"
                        and self.peek(j + 1).text == "iota"):
                    break
            elif self.peek(j).kind not in (";", ")"):
                break
            ordinal += 1
            one_spec()
            self.skip_semis()
        return [eid]

    def _var_spec(self, path: str, kw: str) -> list[str]:
        names = [self.expect("ident")]
        while self.accept(","):
            names.append(self.expect("ident"))
        tname = None
        if self.peek().kind not in ("=", ";", ")"):
            tname = self.parse_type_name()
        inits = []
        if self.accept("="):
            inits.append(self.parse_expr(path + ".v0"))
            vi = 1
            while self.accept(","):
                inits.append(self.parse_expr(f"{path}.v{vi}"))
                vi += 1
        vids = []
        for j, nt in enumerate(names):
            vid = self.node(f"{path}.n[{j}]", "VariableDeclaration", nt.text,
                            self._tloc(nt))
            tp = tname
            if j < len(inits):
                init_id, meta = inits[j]
                self.ast_edge(vid, init_id, "INITIALIZER", 0)
                self.edge(init_id, "DFG", vid)  # VariableDeclaration.java:118
                if tp is None:
                    tp = meta.get("type")
            if tp:
                self.eval_type(vid, tp)
            self.declare(nt.text, vid, "var", tp)
            vids.append(vid)
        return vids

    # ---------------------------------------------------------------- types
    def parse_type_name(self) -> str | None:
        """Parse a type, returning a normalized display string."""
        t = self.peek()
        if t.kind == "*":
            self.next()
            inner = self.parse_type_name()
            return f"{inner}*" if inner else None
        if t.kind == "[":
            self.next()
            if self.peek().kind != "]":
                self.parse_expr(self._p("alen"))
            self.expect("]")
            inner = self.parse_type_name()
            return f"{inner}[]" if inner else None
        if t.kind == "ident" and t.text == "map":
            self.next()
            self.expect("[")
            k = self.parse_type_name()
            self.expect("]")
            v = self.parse_type_name()
            return f"map[{k}]{v}"
        if t.kind == "ident" and t.text == "chan":
            self.next()
            inner = self.parse_type_name()
            return f"chan {inner}"
        if t.kind == "<-":
            self.next()
            return self.parse_type_name()
        if t.kind == "ident" and t.text == "func":
            self.next()
            depth = 0
            while self.peek().kind != "eof":
                k = self.peek().kind
                if k == "(":
                    depth += 1
                elif k == ")":
                    depth -= 1
                    self.next()
                    if depth == 0:
                        break
                    continue
                self.next()
            # result: parenthesized list, or a single type on the same
            # construct (`func(T) U`, `f func(int) error`)
            if self.peek().kind == "(":
                d = 0
                while self.peek().kind != "eof":
                    k = self.peek().kind
                    if k == "(":
                        d += 1
                    elif k == ")":
                        d -= 1
                        self.next()
                        if d == 0:
                            break
                        continue
                    self.next()
            elif self.peek().kind in ("*", "[") or (
                    self.peek().kind == "ident"
                    and self.peek().text not in _KEYWORDS):
                self.parse_type_name()
            return "func()"
        if t.kind == "ident" and t.text in ("struct", "interface"):
            kw = self.next().text
            if self.peek().kind == "{":
                depth = 0
                while self.peek().kind != "eof":
                    k = self.peek().kind
                    if k == "{":
                        depth += 1
                    elif k == "}":
                        depth -= 1
                        self.next()
                        if depth == 0:
                            break
                        continue
                    self.next()
            return f"{kw}{{}}"
        if t.kind == "ident":
            name = self.next().text
            if self.peek().kind == "." and self.peek(1).kind == "ident":
                self.next()
                sel = self.next().text
                name = f"{name}.{sel}"
            if self.peek().kind == "[":
                # generic instantiation `Pair[K, V]` in type position
                # (unambiguous: Go array types are prefix `[N]T`) —
                # generic args erased for resolution
                self._skip_bracket_group()
            return name
        return None

    # ------------------------------------------------------------- blocks
    def parse_block(self, path: str, parent: str, field: str) -> list[dict]:
        self.expect("{")
        cid = self.node(path, "CompoundStatement", "", None, code="")
        self.ast_edge(parent, cid, field, 0)
        self.skip_semis()
        infos = []
        si = 0
        while self.peek().kind != "}" and self.peek().kind != "eof":
            nid, info = self.parse_stmt(f"{path}[{si}]", cid, si)
            if info:
                infos.append(info)
            si += 1
            self.skip_semis()
        self.expect("}")
        return [{"kind": "compound", "nid": cid, "stmts": infos}]

    # ----------------------------------------------------------- statements
    def parse_stmt(self, path: str, parent: str, index: int):
        t = self.peek()
        if t.kind == "ident" and t.text in ("var", "const"):
            nid, info = self.parse_var_decl(path)
            self.ast_edge(parent, nid, "STATEMENTS", index)
            return nid, info
        if t.kind == "ident" and t.text == "return":
            return self._attach(self.parse_return(path), parent, index)
        if t.kind == "ident" and t.text == "if":
            return self._attach(self.parse_if(path), parent, index)
        if t.kind == "ident" and t.text == "for":
            return self._attach(self.parse_for(path), parent, index)
        if t.kind == "ident" and t.text == "switch":
            return self._attach(self.parse_switch(path), parent, index)
        if t.kind == "ident" and t.text == "break":
            self.next()
            # `break Label` binds the labeled enclosing for/switch
            # (go/ast BranchStmt.Label; same break-frame machinery as the
            # Java labeled break)
            lab = None
            if self.peek().kind == "ident" and self.peek().text not in _KEYWORDS:
                # ASI inserted ';' at any newline after break, so an
                # ident here is a same-line label
                lab = self.next().text
            nid = self.node(path, "BreakStatement", lab or "", self._tloc(t))
            info = {"kind": "break", "nid": nid}
            if lab:
                info["label"] = lab
            return self._attach((nid, info), parent, index)
        if t.kind == "ident" and t.text == "continue":
            self.next()
            lab = None
            if self.peek().kind == "ident" and self.peek().text not in _KEYWORDS:
                lab = self.next().text
            nid = self.node(path, "ContinueStatement", lab or "",
                            self._tloc(t))
            info = {"kind": "continue", "nid": nid}
            if lab:
                info["label"] = lab
            return self._attach((nid, info), parent, index)
        if (t.kind == "ident" and t.text not in _KEYWORDS
                and self.peek(1).kind == ":" and self.peek(2).kind != "="):
            # labeled statement `Label: for ...` (go/ast LabeledStmt)
            self.next()
            self.next()
            self.skip_semis()
            nid = self.node(path, "LabelStatement", t.text, self._tloc(t))
            self.ast_edge(parent, nid, "STATEMENTS", index)
            sub_id, sub_info = self.parse_stmt(path + ".sub", nid, 0)
            return nid, {"kind": "label", "nid": nid, "name": t.text,
                         "sub": sub_info}
        if t.kind == "{":
            infos = self.parse_block(path, parent, "STATEMENTS")
            return infos[0]["nid"], infos[0]
        if t.kind == "ident" and t.text in ("go", "defer"):
            # modelled as the plain call (concurrency semantics out of scope)
            self.next()
            eid, _ = self.parse_expr(path)
            return self._attach((eid, {"kind": "plain", "nid": eid}), parent,
                                index)
        if t.kind == "ident" and t.text == "select":
            return self._attach(self.parse_select(path), parent, index)
        return self._attach(self.parse_simple_stmt(path), parent, index)

    def parse_select(self, path: str):
        """``select { case v := <-ch: ... case ch <- x: ... default: }``
        (go/ast SelectStmt) — modelled as a SwitchStatement whose cases
        carry the comm statement (send / receive / recv-assign) as the
        case expression; every branch is conditionally reachable, which
        is exactly the switch EOG shape."""
        t = self.next()  # 'select'
        nid = self.node(path, "SwitchStatement", "", self._tloc(t),
                        props={"select": "true"})
        self.expect("{")
        self.skip_semis()
        cases = []
        ci = 0
        while self.peek().kind not in ("}", "eof"):
            tt = self.peek()
            if tt.kind == "ident" and tt.text == "case":
                self.next()
                cnid = self.node(f"{path}.case[{ci}]", "CaseStatement", "",
                                 self._tloc(tt))
                # the comm clause is a simple statement (short var decl,
                # send, or bare receive)
                eid, _ = self.parse_simple_stmt(f"{path}.case[{ci}].c")
                self.ast_edge(cnid, eid, "CASE_EXPRESSION", 0)
                self.expect(":")
                stmts = self._case_body(f"{path}.case[{ci}]", cnid)
                self.ast_edge(nid, cnid, "STATEMENTS", ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": False})
            elif tt.kind == "ident" and tt.text == "default":
                self.next()
                self.expect(":")
                cnid = self.node(f"{path}.default", "DefaultStatement", "",
                                 self._tloc(tt))
                stmts = self._case_body(f"{path}.default", cnid)
                self.ast_edge(nid, cnid, "STATEMENTS", ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": True})
            else:
                self.next()
            ci += 1
            self.skip_semis()
        self.expect("}")
        return nid, {"kind": "switch", "nid": nid, "cond": nid,
                     "cases": cases}

    def _attach(self, pair, parent, index):
        nid, info = pair
        self.ast_edge(parent, nid, "STATEMENTS", index)
        return nid, info

    def parse_return(self, path: str):
        t = self.next()  # 'return'
        nid = self.node(path, "ReturnStatement", "", self._tloc(t))
        vi = 0
        while self.peek().kind not in (";", "}", "eof"):
            # multi-value `return a / b, nil` (one value per result);
            # the first value keeps the historical `.v` path so
            # single-value returns mint identical content-hash ids
            vid, _ = self.parse_expr(f"{path}.v{vi}" if vi
                                     else path + ".v")
            self.ast_edge(nid, vid, "RETURN_VALUE", vi)
            self.edge(vid, "DFG", nid)  # ReturnStatement.java:53
            fn = self.current_function()
            if fn is not None and fn.node_id:
                self.edge(vid, "DFG", fn.node_id)  # FunctionDeclaration.java:220-238
            vi += 1
            if not self.accept(","):
                break
        return nid, {"kind": "return", "nid": nid}

    def _header_has_semi(self) -> bool:
        """Pure lookahead: does a ';' occur at bracket-depth 0 before the
        body '{' — distinguishes `if cond {` from `if init; cond {` and
        condition-only from 3-clause for, with no backtracking."""
        j, depth = self.i, 0
        while j < len(self.toks):
            k = self.toks[j].kind
            if k in ("(", "["):
                depth += 1
            elif k in (")", "]"):
                depth -= 1
            elif k == "{" and depth == 0:
                return False
            elif k == ";" and depth == 0:
                return True
            elif k == "eof":
                return False
            j += 1
        return False

    def parse_if(self, path: str):
        t = self.next()  # 'if'
        nid = self.node(path, "IfStatement", "", self._tloc(t))
        self._no_composite += 1
        if self._header_has_semi():
            # `if x := f(); cond {`
            init_id, _ = self.parse_simple_stmt(path + ".init")
            self.ast_edge(nid, init_id, "INITIALIZER_STATEMENT", 0)
            self.expect(";")
        cid, _ = self.parse_expr(path + ".c")
        self._no_composite -= 1
        self.ast_edge(nid, cid, "CONDITION", 0)
        then_infos = self.parse_block(path + ".then", nid, "THEN_STATEMENT")
        info = {"kind": "if", "nid": nid, "cond": cid, "then": then_infos,
                "orelse": None}
        if self.peek().kind == "ident" and self.peek().text == "else":
            self.next()
            if self.peek().kind == "ident" and self.peek().text == "if":
                enid, einfo = self.parse_if(path + ".elif")
                self.ast_edge(nid, enid, "ELSE_STATEMENT", 0)
                info["orelse"] = [einfo]
            else:
                info["orelse"] = self.parse_block(path + ".else", nid,
                                                  "ELSE_STATEMENT")
        return nid, info

    def _header_has_range(self) -> bool:
        """Pure lookahead: a `range` keyword at bracket-depth 0 before
        the body '{' — a range clause (go/ast RangeStmt)."""
        j, depth = self.i, 0
        while j < len(self.toks):
            k = self.toks[j].kind
            if k in ("(", "["):
                depth += 1
            elif k in (")", "]"):
                depth -= 1
            elif k == "{" and depth == 0:
                return False
            elif (k == "ident" and self.toks[j].text == "range"
                  and depth == 0):
                return True
            j += 1
        return False

    def parse_for(self, path: str):
        t = self.peek()
        if self._header_has_range():
            return self.parse_for_range(path)
        t = self.next()  # 'for'
        nid = self.node(path, "ForStatement", "", self._tloc(t))
        self._no_composite += 1
        init_info = cond_id = post_info = None
        if self.peek().kind == "{":
            pass  # infinite loop
        elif self._header_has_semi():
            # 3-clause: init; cond; post
            if self.peek().kind != ";":
                init_nid, init_info_d = self.parse_simple_stmt(path + ".init")
                self.ast_edge(nid, init_nid, "INITIALIZER_STATEMENT", 0)
                init_info = init_info_d
            self.expect(";")
            if self.peek().kind != ";":
                cond_id, _ = self.parse_expr(path + ".c")
            self.expect(";")
            if self.peek().kind != "{":
                post_nid, post_info_d = self.parse_simple_stmt(path + ".post")
                self.ast_edge(nid, post_nid, "ITERATION_STATEMENT", 0)
                post_info = post_info_d
        else:
            cond_id, _ = self.parse_expr(path + ".c")
        self._no_composite -= 1
        if cond_id:
            self.ast_edge(nid, cond_id, "CONDITION", 0)
        body = self.parse_block(path + ".body", nid, "STATEMENT")
        return nid, {"kind": "for", "nid": nid, "init": init_info,
                     "cond": cond_id, "post": post_info, "body": body}

    def parse_for_range(self, path: str):
        """``for k, v := range m { ... }`` (go/ast RangeStmt) ->
        ForEachStatement with VARIABLE declarations and an ITERABLE the
        iterable DFG-flows from, mirroring the Java foreach shape
        (statements/ForEachStatement.java)."""
        t = self.next()  # 'for'
        nid = self.node(path, "ForEachStatement", "", self._tloc(t))
        self._no_composite += 1
        names = []
        if not (self.peek().kind == "ident"
                and self.peek().text == "range"):
            names.append(self.expect("ident"))
            if self.accept(","):
                names.append(self.expect("ident"))
            if self.peek().kind in (":=", "="):
                self.next()
        if self.peek().kind == "ident" and self.peek().text == "range":
            self.next()
        iid = None
        if self.peek().kind != "{":
            iid, _ = self.parse_expr(path + ".iter")
            self.ast_edge(nid, iid, "ITERABLE", 0)
        for k, vt in enumerate(names):
            vid = self.node(f"{path}.var{k}", "VariableDeclaration",
                            vt.text, self._tloc(vt))
            self.declare(vt.text, vid, "var", None)
            self.ast_edge(nid, vid, "VARIABLE", k)
            if iid is not None:
                self.edge(iid, "DFG", vid)
        self._no_composite -= 1
        body = self.parse_block(path + ".body", nid, "STATEMENT")
        return nid, {"kind": "foreach", "nid": nid, "body": body}

    def parse_switch(self, path: str):
        t = self.next()  # 'switch'
        nid = self.node(path, "SwitchStatement", "", self._tloc(t))
        self._no_composite += 1
        sel_id = None
        if (self.peek().kind == "ident" and self.peek(1).kind == ":="):
            # `switch v := x.(type)` (go/ast TypeSwitchStmt.Assign) OR a
            # plain init stmt `switch y := f(); [tag]` — v declares into
            # the switch scope either way
            vt = self.next()
            self.next()
            gid, _ = self.parse_expr(path + ".guard")
            vid = self.node(path + ".v", "VariableDeclaration", vt.text,
                            self._tloc(vt))
            self.ast_edge(vid, gid, "INITIALIZER", 0)
            self.edge(gid, "DFG", vid)
            self.declare(vt.text, vid, "var", None)
            if self.accept(";"):
                # init form: the optional tag expression follows
                self.ast_edge(nid, vid, "INITIALIZER_STATEMENT", 0)
                if self.peek().kind != "{":
                    sel_id, _ = self.parse_expr(path + ".sel")
                    self.ast_edge(nid, sel_id, "SELECTOR", 0)
                else:
                    sel_id = vid
            else:
                sel_id = vid
                self.ast_edge(nid, vid, "SELECTOR", 0)
        elif self.peek().kind != "{":
            sel_id, _ = self.parse_expr(path + ".sel")
            if self.accept(";"):
                # expression init stmt, then the optional tag
                self.ast_edge(nid, sel_id, "INITIALIZER_STATEMENT", 0)
                if self.peek().kind != "{":
                    sel_id, _ = self.parse_expr(path + ".sel2")
                    self.ast_edge(nid, sel_id, "SELECTOR", 0)
            else:
                self.ast_edge(nid, sel_id, "SELECTOR", 0)
        self._no_composite -= 1
        self.expect("{")
        self.skip_semis()
        cases = []
        ci = 0
        while self.peek().kind != "}" and self.peek().kind != "eof":
            tt = self.peek()
            if tt.kind == "ident" and tt.text == "case":
                self.next()
                cnid = self.node(f"{path}.case[{ci}]", "CaseStatement", "",
                                 self._tloc(tt))
                eid, _ = self.parse_expr(f"{path}.case[{ci}].e")
                self.ast_edge(cnid, eid, "CASE_EXPRESSION", 0)
                while self.accept(","):
                    self.parse_expr(f"{path}.case[{ci}].e+")
                self.expect(":")
                stmts = self._case_body(f"{path}.case[{ci}]", cnid)
                self.ast_edge(nid, cnid, "STATEMENTS", ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": False})
            elif tt.kind == "ident" and tt.text == "default":
                self.next()
                self.expect(":")
                cnid = self.node(f"{path}.default", "DefaultStatement", "",
                                 self._tloc(tt))
                stmts = self._case_body(f"{path}.default", cnid)
                self.ast_edge(nid, cnid, "STATEMENTS", ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": True})
            else:
                self.next()
            ci += 1
            self.skip_semis()
        self.expect("}")
        return nid, {"kind": "switch", "nid": nid, "cond": sel_id or nid,
                     "cases": cases}

    def _case_body(self, path: str, cnid: str) -> list[dict]:
        infos = []
        si = 0
        self.skip_semis()
        while True:
            tt = self.peek()
            if tt.kind in ("}", "eof"):
                break
            if tt.kind == "ident" and tt.text in ("case", "default"):
                break
            _, info = self.parse_stmt(f"{path}.b[{si}]", cnid, si)
            infos.append(info)
            si += 1
            self.skip_semis()
        return infos

    def parse_simple_stmt(self, path: str):
        """ShortVarDecl / assignment / inc-dec / bare expression."""
        lhs_start = self.i
        lhs_id, lmeta = self.parse_expr(path + ".l")
        if self.peek().kind == ",":
            # tuple lhs `q, err := f()` / `a, b = b, a` (go/ast AssignStmt
            # with multiple Lhs): every name declares/writes, the rhs
            # flows into each
            lhss = [(lhs_id, lmeta)]
            while self.accept(","):
                lhss.append(self.parse_expr(f"{path}.l{len(lhss)}"))
            t = self.peek()
            if t.kind == ":=":
                self.next()
                rhss = [self.parse_expr(path + ".r0")]
                while self.accept(","):
                    rhss.append(self.parse_expr(f"{path}.r{len(rhss)}"))
                ds = self.node(path + ".ds", "DeclarationStatement", "",
                               self._tloc(self.toks[lhs_start]))
                for k, (lid, lm) in enumerate(lhss):
                    name = lm.get("name") or ""
                    # positional rhs when counts match (`a, b := 1, 2`);
                    # a single multi-value rhs flows into every name
                    rid = (rhss[k][0] if len(rhss) == len(lhss)
                           else rhss[-1][0])
                    vid = self.node(f"{path}.v{k}", "VariableDeclaration",
                                    name, self._tloc(self.toks[lhs_start]))
                    self.ast_edge(vid, rid, "INITIALIZER", 0)
                    self.edge(rid, "DFG", vid)
                    self.declare(name, vid, "var", None)
                    self.ast_edge(ds, vid, "DECLARATIONS", k)
                    self._drop_pending_ref(lid)
                return ds, {"kind": "plain", "nid": ds}
            if t.kind == "=":
                self.next()
                rhss = [self.parse_expr(path + ".r0")]
                while self.accept(","):
                    rhss.append(self.parse_expr(f"{path}.r{len(rhss)}"))
                nid = self.node(path, "BinaryOperator", "=",
                                self._tloc(self.toks[lhs_start]),
                                props={"operator": "="})
                for k, (lid, _lm) in enumerate(lhss):
                    rid = (rhss[k][0] if len(rhss) == len(lhss)
                           else rhss[-1][0])
                    self._mark_write(lid)
                    self.ast_edge(nid, lid, "LHS", k)
                    self.edge(rid, "DFG", lid)
                for k, (rid, _rm) in enumerate(rhss):
                    self.ast_edge(nid, rid, "RHS", k)
                    self.edge(rid, "DFG", nid)
                return nid, {"kind": "plain", "nid": nid}
            # not an assignment after all: leave the extra lhss as
            # parsed expressions
            return lhs_id, {"kind": "plain", "nid": lhs_id}
        t = self.peek()
        if t.kind == ":=":
            self.next()
            rhs_id, rmeta = self.parse_expr(path + ".r")
            # short var decl: fresh VariableDeclaration, initializer DFG
            # (GoLanguageFrontendTest: `a := 1 + 2` -> VariableDeclaration
            # with BinaryOperator initializer)
            name = lmeta.get("name") or ""
            vid = self.node(path, "VariableDeclaration", name,
                            self._tloc(self.toks[lhs_start]))
            self.ast_edge(vid, rhs_id, "INITIALIZER", 0)
            self.edge(rhs_id, "DFG", vid)
            tp = rmeta.get("type")
            if tp:
                self.eval_type(vid, tp)
            self.declare(name, vid, "var", tp)
            ds = self.node(path + ".ds", "DeclarationStatement", "", None)
            self.ast_edge(ds, vid, "DECLARATIONS", 0)
            # the lhs expression node was provisional; leave it as an
            # unreferenced ref (reference rewrites it similarly)
            self._drop_pending_ref(lhs_id)
            return ds, {"kind": "plain", "nid": ds}
        if t.kind in _ASSIGN_OPS:
            op = self.next().text
            rhs_id, rmeta = self.parse_expr(path + ".r")
            nid = self.node(path, "BinaryOperator", op,
                            self._tloc(self.toks[lhs_start]),
                            props={"operator": op})
            self._mark_write(lhs_id)
            self.ast_edge(nid, lhs_id, "LHS", 0)
            self.ast_edge(nid, rhs_id, "RHS", 0)
            self.edge(rhs_id, "DFG", lhs_id)  # BinaryOperator.java:82-95
            self.edge(rhs_id, "DFG", nid)
            if op != "=":
                # compound assign: lhs also flows into the operator
                # (BinaryOperator.java:96-108)
                self.edge(lhs_id, "DFG", nid)
            return nid, {"kind": "plain", "nid": nid}
        if t.kind == "<-":
            # send statement `ch <- v` (go/ast SendStmt): the value
            # flows into the channel expression
            self.next()
            rhs_id, _ = self.parse_expr(path + ".r")
            nid = self.node(path, "BinaryOperator", "<-",
                            self._tloc(self.toks[lhs_start]),
                            props={"operator": "<-"})
            self.ast_edge(nid, lhs_id, "LHS", 0)
            self.ast_edge(nid, rhs_id, "RHS", 0)
            self.edge(rhs_id, "DFG", lhs_id)
            self.edge(rhs_id, "DFG", nid)
            return nid, {"kind": "plain", "nid": nid}
        if t.kind in ("++", "--"):
            op = self.next().text
            nid = self.node(path, "UnaryOperator", op,
                            self._tloc(self.toks[lhs_start]),
                            props={"operator": op, "postfix": "true"})
            self.ast_edge(nid, lhs_id, "INPUT", 0)
            # READWRITE (UnaryOperator.java:69-97): both directions
            self.edge(lhs_id, "DFG", nid)
            self.edge(nid, "DFG", lhs_id)
            self._mark_write(lhs_id)
            return nid, {"kind": "plain", "nid": nid}
        return lhs_id, {"kind": "plain", "nid": lhs_id}

    # ----------------------------------------------------------- expressions
    def parse_expr(self, path: str, min_prec: int = 1):
        lhs = self.parse_unary(path + ".u")
        return self._binary_rhs(lhs, path, min_prec)

    def _binary_rhs(self, lhs, path: str, min_prec: int):
        n = 0
        while True:
            t = self.peek()
            prec = _PREC.get(t.kind)
            if prec is None or prec < min_prec:
                return lhs
            op = self.next().text
            rhs = self.parse_unary(f"{path}.r{n}.u")
            # left-assoc: bind tighter rhs first
            while _PREC.get(self.peek().kind, 0) > prec:
                rhs = self._binary_rhs(rhs, f"{path}.r{n}", prec + 1)
            lid, lmeta = lhs
            rid, rmeta = rhs
            nid = self.node(f"{path}.b{n}", "BinaryOperator", op, None,
                            props={"operator": op}, code=op)
            self.ast_edge(nid, lid, "LHS", 0)
            self.ast_edge(nid, rid, "RHS", 0)
            self.edge(lid, "DFG", nid)
            self.edge(rid, "DFG", nid)
            if op in ("==", "!=", "<", "<=", ">", ">=", "&&", "||"):
                tp = "bool"
            else:
                tp = (lmeta.get("type")
                      if lmeta.get("type") == rmeta.get("type") else None)
            if tp:
                self.eval_type(nid, tp)
            lhs = (nid, {"kind": "binop", "name": op, "type": tp})
            n += 1

    def parse_unary(self, path: str):
        t = self.peek()
        if t.kind in ("&", "*", "!", "-", "+", "<-"):
            op = self.next().text
            iid, imeta = self.parse_unary(path + ".i")
            nid = self.node(path, "UnaryOperator", op, self._tloc(t),
                            props={"operator": op, "postfix": "false"})
            self.ast_edge(nid, iid, "INPUT", 0)
            self.edge(iid, "DFG", nid)  # UnaryOperator input flow
            tp = imeta.get("type")
            if op == "&" and tp:
                tp = f"{tp}*"
            elif op == "*" and tp and tp.endswith("*"):
                tp = tp[:-1]
            if tp:
                self.eval_type(nid, tp)
            return nid, {"kind": "unary", "name": op, "type": tp}
        return self.parse_primary(path)

    def parse_primary(self, path: str):
        base = self.parse_operand(path)
        n = 0
        while True:
            t = self.peek()
            if t.kind == ".":
                if (self.peek(1).kind == "(" and self.peek(2).kind == "ident"
                        and self.peek(2).text == "type"
                        and self.peek(3).kind == ")"):
                    # type-switch guard `x.(type)` (go/ast
                    # TypeSwitchGuard): a CastExpression over the base
                    # with no target type — the switch cases carry those
                    self.next(); self.next(); self.next(); self.next()
                    bid, bmeta = base
                    nid = self.node(f"{path}.tsw{n}", "CastExpression",
                                    "type", self._tloc(t))
                    self.ast_edge(nid, bid, "EXPRESSION", 0)
                    self.edge(bid, "DFG", nid)
                    base = (nid, {"kind": "cast", "name": "type",
                                  "type": None})
                    continue
                if self.peek(1).kind != "ident":
                    self.next()
                    continue
                self.next()
                sel = self.next()
                if self.peek().kind == "(":
                    base = self.member_call(base, sel, f"{path}.mc{n}")
                else:
                    bid, bmeta = base
                    nid = self.node(f"{path}.sel{n}", "MemberExpression",
                                    sel.text, self._tloc(sel))
                    self.ast_edge(nid, bid, "BASE", 0)
                    self.pending_members.append(
                        (nid, sel.text, bmeta.get("name"), list(self.scopes),
                         None, "read"))
                    base = (nid, {"kind": "member", "name": sel.text,
                                  "base_name": bmeta.get("name"), "type": None})
            elif t.kind == "(":
                base = self.plain_call(base, f"{path}.call{n}")
            elif t.kind == "[":
                self.next()
                bid, _ = base
                nid = self.node(f"{path}.idx{n}", "ArraySubscriptionExpression",
                                "", self._tloc(t))
                self.ast_edge(nid, bid, "ARRAY_EXPRESSION", 0)
                self.edge(bid, "DFG", nid)
                lo = None
                if self.peek().kind not in ("]", ":"):
                    lo, _ = self.parse_expr(f"{path}.idx{n}.s")
                if self.peek().kind == ":":
                    # slice expr `a[lo:hi]` / `a[:hi]` / `a[lo:]` /
                    # `a[lo:hi:cap]` -> ArrayRangeExpression subscript
                    # with FLOOR/CEILING children (same node model as the
                    # C-family range designator, ArrayRangeExpression.java)
                    self.next()
                    rng = self.node(f"{path}.idx{n}.rng",
                                    "ArrayRangeExpression", "",
                                    self._tloc(t))
                    if lo is not None:
                        self.ast_edge(rng, lo, "FLOOR", 0)
                        self.edge(lo, "DFG", rng)
                    if self.peek().kind not in ("]", ":"):
                        hi, _ = self.parse_expr(f"{path}.idx{n}.hi")
                        self.ast_edge(rng, hi, "CEILING", 0)
                        self.edge(hi, "DFG", rng)
                    if self.accept(":") and self.peek().kind != "]":
                        cap_, _ = self.parse_expr(f"{path}.idx{n}.cap")
                        self.edge(cap_, "DFG", rng)
                    self.ast_edge(nid, rng, "SUBSCRIPT_EXPRESSION", 0)
                elif lo is not None:
                    self.ast_edge(nid, lo, "SUBSCRIPT_EXPRESSION", 0)
                self.expect("]")
                base = (nid, {"kind": "subscript", "name": "", "type": None})
            elif t.kind == "{" and self._no_composite == 0 and \
                    base[1].get("kind") in ("ref", "member", "type"):
                base = self.composite_lit(base, f"{path}.comp{n}")
            else:
                return base
            n += 1

    def parse_operand(self, path: str):
        t = self.peek()
        if t.kind == "int":
            self.next()
            nid = self.node(path, "Literal", t.text, self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "int")
            return nid, {"kind": "literal", "name": t.text, "type": "int"}
        if t.kind == "float":
            self.next()
            nid = self.node(path, "Literal", t.text, self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "float64")
            return nid, {"kind": "literal", "name": t.text, "type": "float64"}
        if t.kind == "string":
            self.next()
            val = t.text[1:-1]
            nid = self.node(path, "Literal", val, self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "string")
            return nid, {"kind": "literal", "name": val, "type": "string"}
        if t.kind == "char":
            self.next()
            nid = self.node(path, "Literal", t.text.strip("'"), self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "rune")
            return nid, {"kind": "literal", "name": t.text, "type": "rune"}
        if t.kind == "ident" and t.text in ("true", "false"):
            self.next()
            nid = self.node(path, "Literal", t.text, self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "bool")
            return nid, {"kind": "literal", "name": t.text, "type": "bool"}
        if t.kind == "ident" and t.text == "nil":
            self.next()
            nid = self.node(path, "Literal", "nil", self._tloc(t),
                            props={"value": "nil"})
            self.eval_type(nid, "nil")
            return nid, {"kind": "literal", "name": "nil", "type": "nil"}
        if t.kind == "ident" and t.text == "new" and self.peek(1).kind == "(":
            # new(T) -> NewExpression typed *T (handler.go builtin new)
            self.next()
            self.expect("(")
            tn = self.parse_type_name()
            self.expect(")")
            nid = self.node(path, "NewExpression", tn or "", self._tloc(t))
            if tn:
                self.eval_type(nid, f"{tn}*")
                rec = self.records.get(tn)
                if rec:
                    self.edge(nid, "INSTANTIATES", rec["decl_id"])
            return nid, {"kind": "new", "name": tn, "type": f"{tn}*" if tn else None}
        if t.kind == "ident" and t.text == "make" and self.peek(1).kind == "(":
            self.next()
            self.expect("(")
            tn = self.parse_type_name()
            while self.accept(","):
                self.parse_expr(path + ".marg")
            self.expect(")")
            nid = self.node(path, "CallExpression", "make", self._tloc(t),
                            props={"fqn": "make"})
            if tn:
                self.eval_type(nid, tn)
            return nid, {"kind": "call", "name": "make", "type": tn}
        if t.kind == "ident" and t.text == "func" \
                and self._func_literal_ahead():
            return self.parse_func_literal(path)
        if t.kind == "ident" and t.text not in _KEYWORDS:
            self.next()
            nid = self.node(path, "DeclaredReferenceExpression", t.text,
                            self._tloc(t))
            self.pending_refs.append((nid, t.text, list(self.scopes), "read"))
            return nid, {"kind": "ref", "name": t.text, "type": None}
        if t.kind == "(":
            self.next()
            inner = self.parse_expr(path + ".par")
            self.expect(")")
            return inner
        if t.kind in ("[", "ident") :
            # a type operand (e.g. []int{...}); treat as type expression
            tn = self.parse_type_name()
            nid = self.node(path, "TypeExpression", tn or "", self._tloc(t))
            return nid, {"kind": "type", "name": tn, "type": tn}
        # unparseable operand: emit a gap Expression and advance
        self.next()
        nid = self.node(path, "Expression", "", self._tloc(t), code=t.text)
        return nid, {"kind": "gap", "name": "", "type": None}

    def _func_literal_ahead(self) -> bool:
        """At a ``func`` token in operand position: does a body ``{``
        follow the signature?  (``func(x int) error { ... }`` is a
        LITERAL; ``func(int) error`` without a body is a type.)"""
        j = self.i + 1
        n = len(self.toks)
        if j >= n or self.toks[j].kind != "(":
            return False
        d = 0
        while j < n:  # params
            k = self.toks[j].kind
            if k == "(":
                d += 1
            elif k == ")":
                d -= 1
                j += 1
                if d == 0:
                    break
                continue
            j += 1
        if j < n and self.toks[j].kind == "(":  # parenthesized results
            d = 0
            while j < n:
                k = self.toks[j].kind
                if k == "(":
                    d += 1
                elif k == ")":
                    d -= 1
                    j += 1
                    if d == 0:
                        break
                    continue
                j += 1
        else:  # simple result type tokens until the body or a terminator
            while j < n and self.toks[j].kind not in (
                    "{", ";", ",", ")", "}", "eof", "="):
                j += 1
        return j < n and self.toks[j].kind == "{"

    def parse_func_literal(self, path: str):
        """``func(params) [results] { body }`` in expression position ->
        LambdaExpression wrapping an implicit FunctionDeclaration (the
        same shape the TS/PS frontends use; Go closures capture the
        enclosing scope through the ordinary scope stack)."""
        t = self.next()  # 'func'
        self._lambda_n = getattr(self, "_lambda_n", 0) + 1
        lname = f"<func{self._lambda_n}>"
        lam = self.node(path, "LambdaExpression", lname, self._tloc(t))
        fid = self.node(path + ".fn", "FunctionDeclaration", lname,
                        self._tloc(t), is_implicit=True)
        self.ast_edge(lam, fid, "FUNCTION", 0)
        self.enter_scope("function", lname, fid)
        param_ids, param_names = self.parse_params(fid, path)
        if self.peek().kind not in ("{", ";", "eof"):
            if self.accept("("):
                ri = 0
                while self.peek().kind != ")" and self.peek().kind != "eof":
                    if (self.peek().kind == "ident"
                            and self.peek(1).kind in ("ident", "*", "[",
                                                      "map", "chan")):
                        rn = self.next().text
                        rt = self.parse_type_name()
                        vid = self.node(f"{path}.res[{ri}]",
                                        "VariableDeclaration", rn, None)
                        if rt:
                            self.eval_type(vid, rt)
                        self.declare(rn, vid, "var", rt)
                        self.ast_edge(fid, vid, "RETURN_TYPES", ri)
                    else:
                        self.parse_type_name()
                    ri += 1
                    if not self.accept(","):
                        break
                self.expect(")")
            else:
                self.parse_type_name()
        infos = self.parse_block(path + ".body", fid, "BODY")
        build_eog(self, fid, infos)
        self.leave_scope()
        self.edge(fid, "DFG", lam)
        fn_info = {
            "decl_id": fid, "kind": "function", "name": lname,
            "n_params": len(param_ids), "param_ids": param_ids,
            "param_names": param_names, "record": None,
        }
        self._functions_by_id[fid] = fn_info
        return lam, {"kind": "lambda", "name": lname, "type": "func()"}

    def plain_call(self, base, path: str):
        bid, bmeta = base
        name = bmeta.get("name") or ""
        if bmeta.get("kind") == "ref":
            rec = self.records.get(name)
            if rec is not None:
                # T(...) style conversion/ctor on a known record
                nid = self.node(path, "ConstructExpression", name,
                                None)
                self.eval_type(nid, name)
                self.edge(nid, "INSTANTIATES", rec["decl_id"])
                self._drop_pending_ref(bid)
                self._parse_args(nid, path)
                return nid, {"kind": "construct", "name": name, "type": name}
            nid = self.node(path, "CallExpression", name, None,
                            props={"fqn": name})
            self._drop_pending_ref(bid)
            args = self._parse_args(nid, path)
            self.pending_calls.append((nid, name, list(self.scopes), args))
            return nid, {"kind": "call", "name": name, "type": None}
        # call on an arbitrary expression
        nid = self.node(path, "CallExpression", name, None, props={"fqn": name})
        self.ast_edge(nid, bid, "CALLEE", 0)
        self._parse_args(nid, path)
        return nid, {"kind": "call", "name": name, "type": None}

    def member_call(self, base, sel: Tok, path: str):
        bid, bmeta = base
        name = sel.text
        base_name = bmeta.get("name")
        fqn = f"{base_name}.{name}" if base_name else name
        mid = self.node(path + ".m", "DeclaredReferenceExpression", name,
                        self._tloc(sel))
        nid = self.node(path, "MemberCallExpression", name, self._tloc(sel),
                        props={"fqn": fqn})
        self.ast_edge(nid, bid, "BASE", 0)
        self.ast_edge(nid, mid, "MEMBER", 0)
        args = self._parse_args(nid, path)
        self.pending_members.append(
            (nid, name, base_name, list(self.scopes), args, "call"))
        return nid, {"kind": "member_call", "name": name, "type": None}

    def _parse_args(self, call_id: str, path: str):
        self.expect("(")
        args = []
        idx = 0
        while self.peek().kind != ")" and self.peek().kind != "eof":
            aid, _ = self.parse_expr(f"{path}.a[{idx}]")
            self.accept("...")
            self.edge(call_id, "ARGUMENTS", aid, {"index": idx})
            self.ast_edge(call_id, aid, "ARGUMENTS", idx)
            args.append({"arg_id": aid, "kw": None, "index": idx})
            idx += 1
            if not self.accept(","):
                break
        self.expect(")")
        return args

    def composite_lit(self, base, path: str):
        """T{...} / pkg.T{Key: v} -> ConstructExpression (the reference maps
        CompositeLit to ConstructExpression, handler.go:1146-1198)."""
        bid, bmeta = base
        tname = bmeta.get("name") or ""
        if bmeta.get("kind") == "member" and bmeta.get("base_name"):
            # qualified composite literal pkg.Type{...}
            tname = f"{bmeta['base_name']}.{tname}"
            self.pending_members = [p for p in self.pending_members
                                    if p[0] != bid]
        self.expect("{")
        nid = self.node(path, "ConstructExpression", tname, None)
        if tname:
            self.eval_type(nid, tname)
            rec = self.records.get(tname)
            if rec:
                self.edge(nid, "INSTANTIATES", rec["decl_id"])
        self._drop_pending_ref(bid)
        ai = 0
        self.skip_semis()
        while self.peek().kind != "}" and self.peek().kind != "eof":
            save = self.i
            if self.peek().kind == "ident" and self.peek(1).kind == ":":
                key = self.next().text
                self.next()  # ':'
                vid, _ = self.parse_expr(f"{path}.kv[{ai}]")
                kv = self.node(f"{path}.k[{ai}]", "KeyValueExpression", key,
                               None)
                self.ast_edge(kv, vid, "VALUE", 0)
                self.edge(vid, "DFG", kv)
                self.ast_edge(nid, kv, "ARGUMENTS", ai)
                self.edge(nid, "ARGUMENTS", kv, {"index": ai, "name": key})
            else:
                vid, _ = self.parse_expr(f"{path}.v[{ai}]")
                self.ast_edge(nid, vid, "ARGUMENTS", ai)
                self.edge(nid, "ARGUMENTS", vid, {"index": ai})
            ai += 1
            if not self.accept(","):
                self.skip_semis()
                if self.peek().kind != "}":
                    if self.i == save:
                        break
                    continue
        self.expect("}")
        return nid, {"kind": "construct", "name": tname, "type": tname}

    # ------------------------------------------------ deferred resolution
    def _member_base_type(self, base_name, scopes):
        bd = self._lookup(scopes, base_name)
        if bd is not None:
            return (bd.get("type") or "").rstrip("*") or None
        return self.imports.get(base_name)

    # --------------------------------------------------------------- export
    def _export_symbols(self):
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
                "has_defaults": False,
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
        for vname, d in getattr(self, "_module_decls", {}).items():
            if d["kind"] == "var":
                self.out.symbols.append({
                    "decl_id": d["decl_id"], "kind": "var", "name": vname,
                    "fqn": f"{self.module_name}.{vname}", "record": None,
                    "module": self.module_name, "doc_id": self.doc_id,
                    "n_params": None, "has_defaults": None,
                    "is_variadic": None, "param_ids": None,
                    "param_names": None,
                })


def parse_go_document(doc_id: str, span_offset: int, source: str,
                      module_name: str | None = None) -> DocGraph:
    """Parse one Go code span into CPG rows; parse failures degrade to a
    ProblemDeclaration node (never fail the Arrow batch)."""
    return parse_span(GoFrontend, doc_id, span_offset, source, module_name,
                      (GoParseError, RecursionError, IndexError))
