"""C-family (Java / C++) language frontend: shared tokenizer + recursive
descent over the C-style subset the reference's Java/C++ test fixtures
exercise.

The reference parses Java with JavaParser (``core/frontends/java/``,
~2,400 LoC) and C/C++ with Eclipse CDT (``core/frontends/cpp/``, ~2,950
LoC); neither is available here, and SURVEY.md F1/F2 prescribe an
error-tolerant subset parser with the same node vocabulary instead.
Coverage targets the fixture groups FIXTURES.md §4 scopes for P/R:

* class/struct declarations with fields, methods, constructors
  (RecordDeclaration / FieldDeclaration / MethodDeclaration /
  ConstructorDeclaration, FIELDS/METHODS/CONSTRUCTORS edges)
* typed local declarations ``int a = 1;`` (VariableDeclaration +
  EVAL_TYPE + initializer DFG), assignment / compound assignment /
  ``++``/``--`` kernels (BinaryOperator.java:80-112,
  UnaryOperator.java:69-97)
* scope-correct REFERS_TO: locals shadow fields (Variables.java
  getShadow), ``this.field`` forces the field (noShadow)
* if/else, while, do, 3-clause for, java foreach, switch/case — EOG with
  branch properties via the shared builder
* calls, member calls (``.``, ``->``, ``::``), ``new T(...)`` ctor
  resolution against local records, ternary ConditionalExpression DFG
  (ConditionalExpression.java:73-89)
* ``#include`` / ``import`` / ``package`` / ``using namespace`` handling
  (IncludeDeclaration + import mentions for the cross-doc gate)

Anything outside the subset degrades to gap Expression/Statement nodes —
the reference's ProblemExpression behavior.
"""

from __future__ import annotations

import re

from cpg_spark.frontends.base import (DocGraph, Scope, Tok, TokenFrontend,
                                      parse_span)
from cpg_spark.frontends.eog import build_eog
from cpg_spark.frontends.typeparser import erase_generics, normalize_type

_PRIMITIVES = {
    "int", "long", "short", "byte", "char", "float", "double", "boolean",
    "bool", "void", "auto", "string", "String", "size_t", "unsigned",
    # <cstdint> fixed-width family: lowercase spellings that the
    # uppercase-heuristic misses but real C/C++ uses constantly
    "int8_t", "int16_t", "int32_t", "int64_t",
    "uint8_t", "uint16_t", "uint32_t", "uint64_t",
    "intptr_t", "uintptr_t", "ssize_t", "ptrdiff_t", "wchar_t",
    "socklen_t", "off_t", "pid_t", "time_t",
}

_JAVA_MODIFIERS = {
    "public", "private", "protected", "static", "final", "abstract",
    "synchronized", "transient", "volatile", "native", "strictfp", "default",
}

# NOTE: `const` is NOT skipped here — it is part of the spelled type and
# flows into parse_type -> normalize_type (qualifier-position preserving)
_CPP_SPECIFIERS = {"virtual", "inline", "constexpr", "static",
                   "extern", "mutable", "explicit", "friend", "typename"}

_KEYWORDS = {
    "if", "else", "while", "do", "for", "switch", "case", "default",
    "return", "break", "continue", "class", "struct", "new", "this",
    "true", "false", "null", "nullptr", "try", "catch", "finally", "throw",
    "throws", "package", "import", "using", "namespace", "enum", "delete",
    "goto", "instanceof", "public", "private", "protected",
}

# C++ named casts -> CastExpression named by the keyword (testCast)
_NAMED_CASTS = {"static_cast", "dynamic_cast", "reinterpret_cast",
                "const_cast"}
# type-id operators -> TypeIdExpression unless the argument is a declared
# value (testTypeId / testUnaryOperator)
_TYPEID_OPS = {"sizeof", "alignof", "typeid", "typeof"}

_TOKEN_RE = re.compile(
    r"""
      (?P<comment>//[^\n]*|/\*.*?\*/)
    | (?P<preproc>\#(?:[^\n\\]|\\\r?\n|\\[^\n])*)
    | (?P<annotation>@\w+)
    | (?P<string>"(?:\\.|[^"\\])*")
    | (?P<char>'(?:\\.|[^'\\])*')
    | (?P<float>(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?[fFlLdD]?|\d+[eE][+-]?\d+[fFlLdD]?|\d+[fFdD])
    | (?P<int>0[xX][0-9a-fA-F]+[uUlL]*|0[bB][01]+[uUlL]*|\d+[uUlL]*(?:[a-zA-Z_]\w*)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><<=|>>=|->\*?|::|\+\+|--|&&|\|\||==|!=|<=|>=|\+=|-=|\*=|/=|%=|&=|\|=|\^=|<<|>>|[+\-*/%&|^<>=!~?:.,;(){}\[\]])
    | (?P<ws>\s+)
    """,
    re.VERBOSE | re.DOTALL,
)

_PREC = {
    "?": 1,
    "||": 2, "&&": 3, "|": 4, "^": 5, "&": 6,
    "==": 7, "!=": 7,
    "<": 8, "<=": 8, ">": 8, ">=": 8, "instanceof": 8,
    "<<": 9, ">>": 9,
    "+": 10, "-": 10,
    "*": 11, "/": 11, "%": 11,
}

_ASSIGN_OPS = {"=", "+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=", "<<=",
               ">>="}

# implicit-conversion groups for the overload ladder
# (CallResolver.java:847-907 resolveWithImplicitCast subset): any numeric
# converts to any numeric; string-likes interconvert.  Includes the
# canonical multiword spellings normalize_type produces.
_NUM_TYPES = {"int", "long", "short", "char", "float", "double", "bool",
              "boolean", "byte", "unsigned", "size_t", "long long",
              "long int", "short int", "unsigned int", "long long int",
              "unsigned long int", "unsigned long long int",
              "unsigned short int", "unsigned char", "signed char",
              "long double"}
_STR_TYPES = {"string", "String", "char*", "char[]"}


class _RecordTable(dict):
    """Record registry whose string keys are generic-ERASED on every
    lookup (``Pair<int,int>`` finds the ``Pair`` record): declared record
    names never carry generic args, but type spellings flowing back in
    from parse_type may (TypeParser.java:838 removeGenerics)."""

    @staticmethod
    def _k(key):
        if isinstance(key, str) and "<" in key:
            return erase_generics(key)
        return key

    def __getitem__(self, key):
        return super().__getitem__(self._k(key))

    def __contains__(self, key):
        return super().__contains__(self._k(key))

    def get(self, key, default=None):
        return super().get(self._k(key), default)


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
        nls = text.count("\n")
        if kind in ("ws", "comment"):
            pass
        elif kind == "annotation":
            # kept as first-class tokens since round 4: the parser turns
            # them into Annotation nodes (Node.kt:138) instead of
            # dropping them at the lexer
            toks.append(Tok("annotation", text, line, col))
        elif kind == "preproc":
            toks.append(Tok("preproc", text, line, col))
        else:
            k = text if kind == "op" else kind
            toks.append(Tok(k, text, line, col))
        if nls:
            line += nls
            col = len(text) - text.rfind("\n") - 1
        else:
            col += len(text)
        pos = m.end()
    toks.append(Tok("eof", "", line, col))
    return toks


class CFamilyParseError(Exception):
    pass


_COND_RE = re.compile(r"#\s*(if|ifdef|ifndef|elif|else|endif)\b\s*(.*)",
                      re.S)
_DEFINE_RE = re.compile(r"#\s*define\s+(\w+)")
_UNDEF_RE = re.compile(r"#\s*undef\s+(\w+)")


def _eval_pp(expr: str, defines: dict) -> bool:
    """Constant-evaluate a preprocessor condition against the defined
    symbols: ``defined(X)`` / ``defined X`` / ``!`` / ``&&`` / ``||`` /
    integer comparisons; an identifier evaluates to its defined value
    when numeric, to 1 when defined non-numeric, to 0 when undefined
    (C11 6.10.1p4: undefined identifiers in #if are 0)."""
    ts = re.findall(r"defined|\|\||&&|==|!=|<=|>=|[!<>()]|\w+", expr)
    pos = [0]

    def peek():
        return ts[pos[0]] if pos[0] < len(ts) else None

    def nxt():
        t = peek()
        pos[0] += 1
        return t

    def prim():
        t = nxt()
        if t == "(":
            v = or_()
            if peek() == ")":
                nxt()
            return v
        if t == "!":
            return 0 if prim() else 1
        if t == "defined":
            if peek() == "(":
                nxt()
                name = nxt()
                if peek() == ")":
                    nxt()
            else:
                name = nxt()
            return 1 if name in defines else 0
        if t is None:
            return 0
        if t.isdigit():
            return int(t)
        v = defines.get(t)
        if v is None:
            return 0
        v = v.strip()
        return int(v) if v.lstrip("-").isdigit() else 1

    def cmp_():
        a = prim()
        while peek() in ("==", "!=", "<", "<=", ">", ">="):
            op = nxt()
            b = prim()
            a = int({"==": a == b, "!=": a != b, "<": a < b,
                     "<=": a <= b, ">": a > b, ">=": a >= b}[op])
        return a

    def and_():
        a = cmp_()
        while peek() == "&&":
            nxt()
            a = int(bool(cmp_()) and bool(a))
        return a

    def or_():
        a = and_()
        while peek() == "||":
            nxt()
            a = int(bool(and_()) or bool(a))
        return a

    return bool(or_())


def _filter_conditionals(toks: list[Tok], symbols: dict | None) -> list[Tok]:
    """``#if/#ifdef/#ifndef/#elif/#else/#endif`` evaluation over the
    configuration's defined symbols (the compdb ``-D`` map — the same
    map ``CXXLanguageFrontend`` hands CDT's scanner as IScannerInfo
    defined symbols) plus in-source ``#define``/``#undef``: tokens in
    inactive branches are DROPPED before parsing, so code guarded by the
    build configuration parses instead of degrading to Problem nodes.
    Branch evaluation is the C11 6.10.1 constant-expression subset
    (defined-ness, integer values of defines, comparisons, !/&&/||)."""
    defines = {k.split("(")[0].strip(): (v if v is not None else "")
               for k, v in (symbols or {}).items()}
    out: list[Tok] = []
    # each frame: {'parent': bool, 'cur': bool, 'taken': bool}; 'cur'
    # folds the parent's activity so active() is just the top frame
    stack: list[dict] = []

    def active() -> bool:
        return not stack or stack[-1]["cur"]

    for t in toks:
        if t.kind == "eof":
            # the eof sentinel survives even inside an inactive branch —
            # an unterminated `#ifdef` at file end (real code truncates)
            # must not starve the parser of its loop terminator
            out.append(t)
            continue
        if t.kind == "preproc":
            m = _COND_RE.match(t.text)
            if m:
                kw, rest = m.group(1), (m.group(2) or "").strip()
                if kw in ("if", "ifdef", "ifndef"):
                    parent = active()
                    if kw == "ifdef":
                        cond = bool(rest.split()) and \
                            rest.split()[0] in defines
                    elif kw == "ifndef":
                        cond = not (bool(rest.split())
                                    and rest.split()[0] in defines)
                    else:
                        cond = _eval_pp(rest, defines)
                    stack.append({"parent": parent,
                                  "cur": parent and cond, "taken": cond})
                elif kw == "elif" and stack:
                    e = stack[-1]
                    cond = _eval_pp(rest, defines)
                    e["cur"] = e["parent"] and not e["taken"] and cond
                    e["taken"] = e["taken"] or cond
                elif kw == "else" and stack:
                    e = stack[-1]
                    e["cur"] = e["parent"] and not e["taken"]
                    e["taken"] = True
                elif kw == "endif" and stack:
                    stack.pop()
                continue  # conditional directives never reach the parser
            if not active():
                continue
            dm = _DEFINE_RE.match(t.text)
            if dm:
                defines.setdefault(dm.group(1), "")
            um = _UNDEF_RE.match(t.text)
            if um:
                defines.pop(um.group(1), None)
            out.append(t)
            continue
        if active():
            out.append(t)
    return out


def _expand_symbols(toks: list[Tok], symbols: dict | None) -> list[Tok]:
    """Preprocessor symbol substitution (CXXSymbolConfigurationTest;
    ``TranslationConfiguration.symbols`` feeds CDT's scanner the same
    way): object-like ``NAME -> text`` and function-like
    ``NAME(X[,Y]) -> body`` entries expand at TOKEN level, with every
    substituted token stamped with the invocation site's line/col — the
    reference's expanded nodes carry the usage location, not a location
    inside the (configuration-supplied) replacement text.  One level,
    non-recursive: the config map is flat text like CDT's IScannerInfo
    defined symbols; compdb ``-D`` defines arrive through the same map
    (sources/compdb.py)."""
    if not symbols:
        return toks
    obj: dict[str, str] = {}
    fnl: dict[str, tuple[list[str], str]] = {}
    for k, v in symbols.items():
        m = re.match(r"^(\w+)\(([^)]*)\)$", k.strip())
        if m:
            fnl[m.group(1)] = (
                [p.strip() for p in m.group(2).split(",") if p.strip()],
                v if v is not None else "")
        else:
            obj[k.strip()] = v if v is not None else ""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.kind == "ident" and t.text in fnl
                and toks[i + 1].kind == "("):
            params, body = fnl[t.text]
            j, depth = i + 2, 1
            args: list[list[Tok]] = []
            cur: list[Tok] = []
            while j < len(toks) and toks[j].kind != "eof":
                tk = toks[j]
                if tk.kind == "(":
                    depth += 1
                elif tk.kind == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif tk.kind == "," and depth == 1:
                    args.append(cur)
                    cur = []
                    j += 1
                    continue
                cur.append(tk)
                j += 1
            if cur or args:
                args.append(cur)
            sub = {p: (args[n] if n < len(args) else [])
                   for n, p in enumerate(params)}
            for bt in tokenize(body)[:-1]:  # drop the body's eof
                if bt.kind == "ident" and bt.text in sub:
                    out.extend(Tok(a.kind, a.text, t.line, t.col)
                               for a in sub[bt.text])
                else:
                    out.append(Tok(bt.kind, bt.text, t.line, t.col))
            # past the closing ')'; an unclosed call keeps the eof
            i = j if toks[j].kind == "eof" else j + 1
            continue
        if t.kind == "ident" and t.text in obj:
            out.extend(Tok(bt.kind, bt.text, t.line, t.col)
                       for bt in tokenize(obj[t.text])[:-1])
            i += 1
            continue
        out.append(t)
        i += 1
    return out


# GCC/glibc declaration decorations.  Real-world C/C++ headers (libc's
# own /usr/include among them) annotate nearly every prototype with
# attribute machinery that carries no CPG semantics; CDT's GNU dialect
# parser accepts and discards these the same way
# (GCCLanguageExtensionsTest in the reference's CDT dependency).  They
# are stripped at TOKEN level because they may appear in any declarator
# position (before the return type, after the parameter list, between
# declarators, after a struct body).
_GNU_BARE = frozenset({
    "__THROW", "__THROWNL", "__BEGIN_DECLS", "__END_DECLS",
    "__extension__", "__restrict", "__restrict__", "__restrict_arr",
    "__wur", "__inline", "__inline__", "__forceinline", "_Noreturn",
    "_Restrict_",
    "__COLD", "__BEGIN_NAMESPACE_STD", "__END_NAMESPACE_STD",
    "__BEGIN_NAMESPACE_C99", "__END_NAMESPACE_C99",
})
_GNU_PAREN = frozenset({
    "__attribute__", "__attribute", "__declspec", "__nonnull",
    "__fortified_attr_access", "__glibc_macro_warning", "_Alignas",
    "alignas",
})
# glibc's pre-expanded attribute macros: __attribute_pure__ (bare),
# __attribute_alloc_size__ ((1, 2)) (parenthesized) and friends
_GNU_ATTR_RE = re.compile(r"^__attribute_\w+__$")
# libstdc++'s feature-gate decoration macros (reserved _GLIBCXX
# namespace): `_GLIBCXX20_CONSTEXPR inline T f()`, `str() const
# _GLIBCXX_LVAL_REF_QUAL`, `_GLIBCXX_NOEXCEPT_IF(...)` — decoration
# only, no grammar weight.  Paren-taking spellings end in _IF/__ args;
# simplest sound rule: strip the ident, and a directly-following paren
# group ONLY for the known paren-takers.
_GLIBCXX_DECOR_RE = re.compile(
    r"^_GLIBCXX(\d*)_(CONSTEXPR|INLINE|NODISCARD|NOEXCEPT|NOTHROW|"
    r"NORETURN|PURE|CONST|ALWAYS_INLINE|VISIBILITY|DEPRECATED\w*|"
    r"LVAL_REF_QUAL|REF_QUAL|DEFAULT_ABI_TAG|TXN_SAFE\w*|"
    r"USE_NOEXCEPT|THROW|NOEXCEPT_IF|NOEXCEPT_PARM|NOEXCEPT_QUAL)$")
_GLIBCXX_DECOR_PAREN = frozenset({
    "_GLIBCXX_NOEXCEPT_IF", "_GLIBCXX_THROW", "_GLIBCXX_VISIBILITY",
    "_GLIBCXX_DEPRECATED_SUGGEST",
})


def _skip_paren_group(toks: list[Tok], j: int) -> int:
    """Index just past the balanced ( ... ) group starting at toks[j];
    j unchanged if toks[j] is not '('."""
    if j >= len(toks) or toks[j].kind != "(":
        return j
    depth = 0
    while j < len(toks) and toks[j].kind != "eof":
        if toks[j].kind == "(":
            depth += 1
        elif toks[j].kind == ")":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    return j


def _strip_gnu_decorations(toks: list[Tok]) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (t.kind == "[" and i + 1 < len(toks)
                and toks[i + 1].kind == "["):
            # C++11 attribute specifier `[[nodiscard]]` / `[[deprecated
            # ("x")]]`: skip to the matching `]]` (two adjacent `[` can
            # start nothing else in declaration grammar)
            d = 0
            while toks[i].kind != "eof":
                if toks[i].kind == "[":
                    d += 1
                elif toks[i].kind == "]":
                    d -= 1
                    if d == 0:
                        i += 1
                        break
                i += 1
            continue  # an unclosed `[[` keeps the eof
        if t.kind == "ident":
            if t.text in _GNU_BARE:
                i += 1
                continue
            if t.text in _GNU_PAREN or _GNU_ATTR_RE.match(t.text):
                i = _skip_paren_group(toks, i + 1)
                continue
            if _GLIBCXX_DECOR_RE.match(t.text):
                if (t.text in _GLIBCXX_DECOR_PAREN
                        and i + 1 < len(toks)
                        and toks[i + 1].kind == "("):
                    i = _skip_paren_group(toks, i + 1)
                else:
                    i += 1
                continue
            if (t.text in ("__asm__", "__asm", "asm")
                    and i + 1 < len(toks) and toks[i + 1].kind == "("
                    and out and out[-1].kind in (")", "ident", "]")):
                # symbol-redirect suffix `... stat (...) __asm__("stat64")`:
                # only ever follows a declarator (closing paren /
                # identifier / array bound) — asm STATEMENTS are preceded
                # by ';' '{' '}' and keep their tokens
                # (ASMDeclarationStatement)
                i = _skip_paren_group(toks, i + 1)
                continue
        out.append(t)
        i += 1
    return out


class CFamilyFrontend(TokenFrontend):
    ParseError = CFamilyParseError
    EXPECT_MSG = "expected {want}, got {t.kind}@{t.line}"

    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str, dialect: str, symbols: dict | None = None):
        toks = _expand_symbols(
            _filter_conditionals(tokenize(source), symbols), symbols)
        if dialect != "java":
            toks = _strip_gnu_decorations(toks)
        super().__init__(doc_id, span_offset, source, module_name, toks)
        self.dialect = dialect  # 'java' | 'cpp'
        # record registry keyed by ERASED type name: lookups may arrive
        # with generic arguments attached (`Pair<int,int> p;` declares a
        # var of that spelling but members resolve through the erased
        # record — the reference resolves through the class-template
        # realization the same way, ClassTemplateTest)
        self.records: dict[str, dict] = _RecordTable()
        # (record_name_or_'', fn_name) -> [fn_info, ...]: C++ overload sets
        # (CallResolver.java keeps candidate lists per name; a plain dict
        # scope entry would collapse overloads to the last declaration)
        self._overloads: dict[tuple, list] = {}
        # (record_name_or_'', fn_name) -> [template_info]: function
        # templates (TemplateDeclaration.java / FunctionTemplateTest)
        self._templates: dict[tuple, list] = {}
        # enclosing Java switch-expression nodes (yield targets)
        self._switch_exprs: list[str] = []
        # names declared as VARIABLE templates (`template<..> bool v =`):
        # a later `v<T, U>` in an expression is a template-id, never a
        # comparison chain, even though the name resolves to a value
        self._var_templates: set[str] = set()
        # scope stack of typedef alias -> normalized target type; resolved
        # at parse time like the reference's ScopeManager typedef table
        # (TypedefTest: member/function-local typedefs shadow outer ones)
        self._typedefs: list[dict[str, str]] = [{}]
        self._path_n = 0
        # C++ namespace nesting (ScopeManager NameScope FQNs): members
        # declared inside `namespace A` export module="A" so qualified
        # lookups merge across files at link time (ScopeManagerTest
        # testMerge/testScopeFQN)
        self._ns_stack: list[str] = []
        self._extra_module_vars: list[tuple] = []
        # function-pointer signature hints: a `&target` / `&A::target`
        # reference on the RHS of a fnptr declaration/assignment resolves
        # by the POINTER's signature, not the scope ladder alone
        # (FunctionPointerTest: `void (*p)(int) = &target;` binds the
        # 1-param overload).  ref/member node id -> [param type, ...]
        self._ref_sig_hint: dict[str, list] = {}
        # member names pulled in by `import static A.member` — refs to
        # them must export mentions (they resolve cross-document), unlike
        # plain imported CLASS names (StaticImportsTest single leg)
        self._static_import_names: set[str] = set()
        self._pkg_declared = False
        # assignments whose LHS may be fnptr-typed; the hint is derivable
        # only after all declarations are known -> deferred to
        # _resolve_locally: (lhs_id, lhs_meta, rhs_target_id)
        self._fnptr_assigns: list[tuple] = []
        # Annotation nodes already emitted but awaiting their owner: they
        # attach to the NEXT declaration node created (annotations
        # lexically precede the declaration they annotate)
        self._pending_anns: list[str] = []

    _ANNOTATABLE = frozenset({
        "RecordDeclaration", "FunctionDeclaration", "MethodDeclaration",
        "ConstructorDeclaration", "FieldDeclaration", "VariableDeclaration",
        "ParamVariableDeclaration", "EnumDeclaration",
        "EnumConstantDeclaration",
    })

    def node(self, path, label, name="", loc=None, **kw):
        nid = super().node(path, label, name, loc, **kw)
        if self._pending_anns and label in self._ANNOTATABLE:
            anns, self._pending_anns = self._pending_anns, []
            for i, aid in enumerate(anns):
                self.ast_edge(nid, aid, "ANNOTATIONS", i)
        return nid

    def _collect_annotations(self) -> None:
        """``@Name`` / ``@Name(v)`` / ``@Name(a = 1, b = "s")`` ->
        Annotation nodes (+ AnnotationMember children, each holding its
        VALUE expression) queued for the NEXT declaration node parsed.

        Reference semantics (JavaLanguageFrontend.kt
        handleAnnotations:449-494, Annotation.java/AnnotationMember.java,
        Node.kt:138 ``annotations`` is an AST-subgraph list): normal
        annotations emit one member per ``name = value`` pair; the
        single-member form ``@A("x")`` binds the implicit member name
        ``value`` (ANNOTATION_MEMBER_VALUE); markers have no members."""
        while self.peek().kind == "annotation":
            t = self.next()
            aid = self.node(self._p("ann"), "Annotation", t.text[1:],
                            self._tloc(t))
            mi = 0
            if self.peek().kind == "(":
                self.next()
                while self.peek().kind not in (")", "eof"):
                    if (self.peek().kind == "ident"
                            and self.peek(1).kind == "="
                            and self.peek(2).kind != "="):
                        mt = self.next()
                        self.next()
                        mid = self.node(self._p("annm"), "AnnotationMember",
                                        mt.text, self._tloc(mt))
                    else:
                        mid = self.node(self._p("annm"), "AnnotationMember",
                                        "value", self._tloc(self.peek()),
                                        is_implicit=True)
                    vid, _ = self.parse_expr(self._p("annv"))
                    self.ast_edge(mid, vid, "VALUE", 0)
                    self.ast_edge(aid, mid, "MEMBERS", mi)
                    mi += 1
                    if not self.accept(","):
                        break
                self.accept(")")
            self._pending_anns.append(aid)

    # ------------------------------------------------------------- tokens
    def _p(self, tag: str) -> str:
        self._path_n += 1
        return f"cf.{tag}.{self._path_n}"

    def _stacks(self) -> tuple:
        return (self.scopes, self._typedefs, self._ns_stack)

    def _tloc(self, t: Tok):
        return (t.line, t.col, t.line, t.col + max(len(t.text), 1))

    def _skip_modifiers(self) -> list:
        """Skip (and RETURN) leading declaration modifiers — `static` is
        semantically load-bearing for Java static imports
        (StaticImportsTest: only static members are importable) and is
        recorded on the declaration (FieldDeclaration.getModifiers)."""
        mods = _JAVA_MODIFIERS if self.dialect == "java" else _CPP_SPECIFIERS
        seen = []
        while True:
            if self.peek().kind == "annotation":
                # `@A public @B void f()` — annotations interleave with
                # modifiers (JLS 8.4.3); queue them for the declaration
                self._collect_annotations()
            elif self.peek().kind == "ident" and self.peek().text in mods:
                seen.append(self.next().text)
            else:
                break
        self._cur_mods = seen
        return seen

    def _skip_balanced(self, open_k: str, close_k: str) -> None:
        depth = 0
        while self.peek().kind != "eof":
            k = self.peek().kind
            if k == open_k:
                depth += 1
            elif k == close_k:
                depth -= 1
                self.next()
                if depth == 0:
                    return
                continue
            self.next()

    # --------------------------------------------------------------- file
    def run(self) -> DocGraph:
        tu_id = self.node("", "TranslationUnitDeclaration", self.module_name,
                          None, code="")
        ns_id = self.node("ns", "NamespaceDeclaration", self.module_name,
                          None, code="")
        self.ast_edge(tu_id, ns_id, "DECLARATIONS", 0)
        self.enter_scope("module", self.module_name, ns_id)
        di = 0
        while self.peek().kind != "eof":
            t = self.peek()
            if t.kind == "annotation":
                self._collect_annotations()
                continue  # re-dispatch on the annotated declaration
            if t.kind == "preproc":
                self._handle_preproc(self.next(), ns_id, di)
            elif t.kind == ";":
                self.next()
            elif t.kind == "ident" and t.text == "package":
                # package a.b.c; -> module name (java)
                self.next()
                parts = []
                while self.peek().kind in ("ident", "."):
                    tk = self.next()
                    if tk.kind == "ident":
                        parts.append(tk.text)
                self.accept(";")
                if parts:
                    self.module_name = ".".join(parts)
                    self._pkg_declared = True
                    # re-root the already-minted module scope and TU/
                    # namespace nodes: node ids hash the ast path (not
                    # the name) so renaming is safe — without this,
                    # mention scope paths stay '<default>.…' while
                    # exported symbols carry the package module, and
                    # same-package member refs never become visible
                    # (fix-328 super.myField)
                    self.scopes[0].name = self.module_name
                    for row in self.out.nodes:
                        if row["node_id"] in (tu_id, ns_id):
                            row["name"] = self.module_name
            elif t.kind == "ident" and t.text == "import":
                self.next()
                is_static = False
                if (self.dialect == "java" and self.peek().kind == "ident"
                        and self.peek().text == "static"
                        and self.peek(1).kind == "ident"):
                    # `import static A.member;` / `import static A.*;`
                    # (JLS 7.5.3-4; ImportResolver static imports,
                    # StaticImportsTest): the source "module" is the
                    # CLASS — its static members are re-exported under a
                    # record-qualified module key by _export_symbols, so
                    # the ordinary import/star machinery resolves them
                    self.next()
                    is_static = True
                parts = []
                saw_star = False
                while self.peek().kind in ("ident", ".", "*"):
                    tk = self.next()
                    if tk.kind == "ident":
                        parts.append(tk.text)
                    elif tk.kind == "*":
                        saw_star = True
                self.accept(";")
                if parts:
                    if saw_star:
                        # `import p.*;` / `import static A.*;` — a star
                        # import of the whole module/class (name `*`
                        # drives the link-stage asterisk expansion,
                        # ImportResolver.java:62-120)
                        mod, name = ".".join(parts), "*"
                    else:
                        mod = ".".join(parts[:-1]) or parts[0]
                        name = parts[-1]
                    iid = self.node(self._p("import"), "IncludeDeclaration",
                                    ".".join(parts), self._tloc(t))
                    self.ast_edge(ns_id, iid, "INCLUDES", di)
                    self.imports[parts[-1]] = mod
                    if is_static and not saw_star:
                        # the imported MEMBER name must still become a
                        # ref/call mention in this document (it resolves
                        # cross-doc through the import gate), unlike an
                        # imported class name which only serves as a base
                        self._static_import_names.add(name)
                    self.out.mentions.append(self._mention(
                        iid, "import", name, base_type=mod))
            elif (t.kind == "ident" and t.text == "namespace"
                  and self.dialect == "cpp"):
                self._guard_top(self._parse_namespace, ns_id, di)
            elif t.kind == "ident" and t.text == "using":
                self.next()
                if (self.dialect == "cpp"
                        and self.peek().kind == "ident"
                        and self.peek().text == "namespace"
                        and self.peek(1).kind == "ident"):
                    # `using namespace A;` — a UsingDirective in the
                    # reference; visibility-wise an import of module A
                    self.next()
                    parts = [self.next().text]
                    while (self.peek().kind == "::"
                           and self.peek(1).kind == "ident"):
                        self.next()
                        parts.append(self.next().text)
                    mod = ".".join(parts)
                    uid = self.node(self._p("using"), "UsingDirective",
                                    mod, self._tloc(t))
                    self.ast_edge(ns_id, uid, "DECLARATIONS", di)
                    self.imports[parts[-1]] = mod
                    self.out.mentions.append(self._mention(
                        uid, "import", parts[-1], base_type=mod))
                while self.peek().kind not in (";", "eof"):
                    self.next()
                self.accept(";")
            elif t.kind == "ident" and (
                    t.text in ("class", "struct")
                    or (t.text == "interface" and self.dialect == "java")):
                nid = self._guard_top(self.parse_class, self._p("class"))
                if nid:
                    self.ast_edge(ns_id, nid, "DECLARATIONS", di)
            elif t.kind == "ident" and t.text == "enum":
                nid = self._guard_top(self.parse_enum, self._p("enum"),
                                      ns_id, di)
                if nid:
                    self.ast_edge(ns_id, nid, "DECLARATIONS", di)
            else:
                nid = self._guard_top(self.parse_member_or_global,
                                      self._p("top"), record=None,
                                      parent=ns_id, index=di)
                if nid is None:
                    self.next()  # unknown token: skip
            di += 1
        self._module_decls = dict(self.scopes[-1].decls)
        self.leave_scope()
        self._resolve_locally()
        self._export_symbols()
        for m in self.out.mentions:
            # cross-document resolution joins base types to record
            # symbols by NAME — the erased name is the join key
            # (`ArrayList<String> l; l.add(x)` binds ArrayList.add)
            m["base_type"] = erase_generics(m["base_type"])
            m.setdefault("arg_types", None)
        return self.out

    def _parse_namespace(self, parent_ns_id: str, di: int):
        """``namespace A { ... }`` / ``namespace A::B { ... }`` — the
        reference's NameScope (ScopeManagerTest.testScopeFQN nests A::B;
        NamespaceDeclaration carries the FQN).  Members export
        ``module = <namespace FQN>`` so two files declaring the same
        namespace MERGE at link time by module key — the Spark
        re-derivation of ScopeManager.mergeFrom (testMerge: both files'
        functions live in ONE name scope and ``A::func1`` resolves
        globally).  The namespace also emits an import mention of itself:
        membership grants the whole namespace's symbols to the document,
        which is exactly the import-visibility gate."""
        t = self.next()  # 'namespace'
        parts = []
        while self.peek().kind == "ident":
            parts.append(self.next().text)
            if self.peek().kind == "::" and self.peek(1).kind == "ident":
                self.next()
            else:
                break
        if not parts or self.peek().kind != "{":
            # anonymous namespace: contents stay file-local — parse the
            # body in the current scope without a module override
            if self.peek().kind == "{":
                self.next()
                dj = 0
                while self.peek().kind not in ("}", "eof"):
                    nid = self.parse_member_or_global(
                        self._p("top"), record=None,
                        parent=parent_ns_id, index=dj)
                    if nid is None:
                        self.next()
                    dj += 1
                self.accept("}")
            return None
        outer = self._ns_stack[-1] if self._ns_stack else None
        fqn = ".".join(([outer] if outer else []) + parts)
        nsid = self.node(self._p("ns"), "NamespaceDeclaration", fqn,
                         self._tloc(t))
        self.ast_edge(parent_ns_id, nsid, "DECLARATIONS", di)
        self.out.mentions.append(self._mention(nsid, "import", fqn,
                                               base_type=fqn))
        self._ns_stack.append(fqn)
        self.expect("{")
        self.enter_scope("module", fqn, nsid)
        dj = 0
        while self.peek().kind not in ("}", "eof"):
            t2 = self.peek()
            if (t2.kind == "ident" and t2.text == "namespace"):
                self._parse_namespace(nsid, dj)
            elif t2.kind == "ident" and t2.text in ("class", "struct"):
                nid = self.parse_class(self._p("class"))
                if nid:
                    self.ast_edge(nsid, nid, "DECLARATIONS", dj)
            else:
                nid = self.parse_member_or_global(self._p("top"),
                                                  record=None,
                                                  parent=nsid, index=dj)
                if nid is None:
                    self.next()
            dj += 1
        # namespace-level vars export under the namespace module
        for vname, d in self.scopes[-1].decls.items():
            if d.get("kind") == "var":
                self._extra_module_vars.append((fqn, vname, d))
        self.leave_scope()
        self.accept("}")
        self._ns_stack.pop()
        return nsid

    def _handle_preproc(self, t: Tok, ns_id: str, di: int) -> None:
        m = re.match(r'#\s*include\s*[<"]([^>"]+)[>"]', t.text)
        if m:
            path = m.group(1)
            iid = self.node(self._p("include"), "IncludeDeclaration", path,
                            self._tloc(t))
            self.ast_edge(ns_id, iid, "INCLUDES", di)
            name = path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
            self.imports[name] = name
            self.out.mentions.append(self._mention(iid, "import", name,
                                                   base_type=name))

    # ---------------------------------------------------------------- types
    def _looks_like_type(self, k: int = 0) -> bool:
        t = self.peek(k)
        if (self.dialect == "cpp" and t.kind == "ident"
                and t.text in ("struct", "union")
                and self.peek(k + 1).kind == "ident"):
            return True  # elaborated specifier in a use position
        if (self.dialect == "cpp" and t.kind == "ident"
                and t.text == "decltype" and self.peek(k + 1).kind == "("):
            return True
        if (self.dialect == "cpp" and t.kind == "ident"
                and t.text == "typename"
                and self.peek(k + 1).kind == "ident"):
            # dependent-type marker can ONLY introduce a type
            return True
        if (self.dialect == "cpp" and t.kind == "ident"
                and t.text in ("const", "volatile", "unsigned", "signed")):
            # cv/sign qualifiers can only open a type in C/C++
            # (`for (const auto& r : xs)`, `unsigned x = 5`)
            return True
        return t.kind == "ident" and (
            t.text in _PRIMITIVES
            or (t.text not in _KEYWORDS and t.text[0].isupper())
            or t.text in self.records
            or self._typedef_lookup(t.text) is not None
        )

    def _typedef_lookup(self, name: str) -> str | None:
        for scope in reversed(self._typedefs):
            if name in scope:
                return scope[name]
        return None

    def parse_type(self, sized_arrays: bool = False) -> str | None:
        """Type = [qualifiers] Ident (::Ident|.Ident)* [<...>] [*&]* [\\[\\]]*
        — the spelled string is canonicalized through
        frontends.typeparser.normalize_type (SURVEY U3), so every alias
        spelling of one type mints the same content-hash Type id."""
        if (self.dialect == "cpp" and self.peek().kind == "::"
                and self.peek(1).kind == "ident"):
            # global-namespace qualifier `::__gnu_debug::_Safe_iterator`
            # — spelling-only (the canonical type drops the root anchor)
            self.next()
        prefix: list[str] = []
        while (self.dialect == "cpp" and self.peek().kind == "ident"
               and self.peek().text not in _KEYWORDS
               and self.peek().text not in ("const", "unsigned", "signed",
                                            "volatile", "typename",
                                            "decltype")
               and self.peek(1).kind == "ident"
               and (self.peek(1).text in _PRIMITIVES
                    or self.peek(1).text in ("const", "unsigned", "signed",
                                             "volatile", "struct", "union",
                                             "enum"))
               and self.peek().text not in _PRIMITIVES
               and self._typedef_lookup(self.peek().text) is None
               and self.peek().text not in self.records):
            # unknown decoration macro directly before a type word —
            # zlib's `local int f()` (#define local static), `z_const
            # unsigned char *p`, `ZEXTERN int`: an identifier that is
            # neither a declared type nor a primitive cannot legally
            # precede one
            self.next()
        while self.peek().kind == "ident" and self.peek().text in (
                "const", "unsigned", "signed", "volatile"):
            prefix.append(self.next().text)
        if (self.dialect == "cpp" and self.peek().kind == "::"
                and self.peek(1).kind == "ident"):
            self.next()  # `const ::ns::T&` — qualifier-then-root form
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek().text == "typename"
                and self.peek(1).kind == "ident"):
            # dependent-type marker `typename X<T>::member` — spelling
            # only, no resolution weight (CDT's ICPPASTNamedTypeSpecifier)
            self.next()
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek().text in ("struct", "union", "enum")
                and self.peek(1).kind == "ident"
                and self.peek(2).kind != "{"):
            # elaborated type specifier in a USE position —
            # `(struct sockaddr *)&sa` (openssl client.cpp); the spelled
            # type is the bare record name (CDT elaborates to the same
            # ObjectType)
            self.next()
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek().text == "decltype"
                and self.peek(1).kind == "("):
            # `decltype(expr)` — keep the spelling; the operand gets no
            # resolution weight (CDT's ICPPASTDecltypeSpecifier)
            self.next()
            parts, pd = ["decltype", "("], 1
            self.next()
            while pd and self.peek().kind != "eof":
                k = self.peek().kind
                if k == "(":
                    pd += 1
                elif k == ")":
                    pd -= 1
                parts.append(self.next().text)
            name = " ".join(parts)
        elif self.peek().kind != "ident" or self.peek().text in _KEYWORDS:
            if prefix and prefix[-1] in ("unsigned", "signed"):
                # bare 'unsigned' / 'unsigned long' style: implied int
                name = ""
            else:
                return None
        elif (prefix and prefix[-1] in ("unsigned", "signed")
              and self.peek().text not in ("int", "char", "long", "short",
                                           "double")):
            # `unsigned x = 5` — the sign qualifier stands alone (implied
            # int, C11 6.7.2); the follower ident is the DECLARATOR, not a
            # base type, so leave it for the caller
            name = ""
        else:
            name = self.next().text
        # multiword primitives: long long, long long int, long double ...
        if name in ("long", "short", ""):
            while (self.peek().kind == "ident"
                   and self.peek().text in ("long", "int", "double",
                                            "char", "short")):
                name = (name + " " + self.next().text).strip()
        while self.peek().kind in ("::", ".") and self.peek(1).kind == "ident":
            self.next()
            name += "." + self.next().text
        # east const (`char const *`): same canonical type as west const
        while (self.peek().kind == "ident"
               and self.peek().text in ("const", "volatile")):
            prefix.insert(0, self.next().text)
        name = " ".join(prefix + [name]).strip()
        if self.peek().kind == "<":
            # generics / template args: consume balanced and KEEP the
            # spelling — normalize_type canonicalizes the arguments
            # recursively and type_node hangs GENERICS/RAW_TYPE edges off
            # the parameterized spelling (ObjectType.java:82).  `>>`
            # tokenizes as one shift op, so it closes TWO angles (the
            # classic C++ parse quirk).
            depth = 0
            pd = 0  # paren depth — `enable_if_t<sizeof...(X) == N>` puts
            j = self.i  # parens (and `)`) INSIDE the argument list
            while self.toks[j].kind != "eof":
                if self.toks[j].kind == "(":
                    pd += 1
                elif self.toks[j].kind == ")" and pd:
                    pd -= 1
                elif self.toks[j].kind == "<":
                    depth += 1
                elif self.toks[j].kind == ">":
                    depth -= 1
                    if depth == 0:
                        break
                elif self.toks[j].kind == ">>":
                    depth -= 2
                    if depth <= 0:
                        break
                elif self.toks[j].kind in (";", "{", ")"):
                    depth = -1
                    break
                j += 1
            if depth < 0 and self.toks[j].kind == ">>":
                # `decay_t<_Tp>>` inside a template header: the `>>`
                # closes our args AND the enclosing header — split the
                # token, first `>` is ours, second stays for the caller
                name += " ".join(t.text for t in self.toks[self.i:j]) + ">"
                old = self.toks[j]
                self.toks[j] = Tok(">", ">", old.line, old.col + 1)
                self.i = j
            elif depth == 0:
                name += " ".join(t.text for t in self.toks[self.i:j + 1])
                self.i = j + 1
                # dependent member of a template instantiation:
                # `__gmp_resolve_expr<T>::ptr_type`
                while (self.peek().kind == "::"
                       and self.peek(1).kind == "ident"):
                    self.next()
                    name += "." + self.next().text
                # east cv after template args (`B<T> const&`)
                while (self.peek().kind == "ident"
                       and self.peek().text in ("const", "volatile")):
                    name = (self.next().text + " " + name).strip()
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek(1).kind == "::" and self.peek(2).kind == "*"):
            # pointer-to-member type `_Tp _Class::*` (mem_fn): a pointer
            # for resolution purposes; the owner class has no weight here
            self.next(); self.next(); self.next()
            name += "*"
        suffix = ""
        while self.peek().kind in ("*", "&", "&&"):
            # '&' (lvalue ref) and '&&' (rvalue ref — one token, shared
            # with logical-and) are consumed but held out of the
            # canonical type string (the reference's TypeParser strips
            # top-level reference qualifiers for resolution)
            if self.next().kind == "*":
                suffix += "*"
            # pointer-level cv (`char *const p`, `T *__restrict q`):
            # no resolution weight (the reference's TypeParser drops
            # pointer qualifiers for candidate matching)
            while (self.peek().kind == "ident"
                   and self.peek().text in ("const", "volatile")):
                self.next()
        while self.peek().kind == "[" and (
                self.peek(1).kind == "]"
                or (sized_arrays
                    and self.peek(1).kind in ("ident", "int")
                    and self.peek(2).kind == "]")):
            # `[]` always; a sized/macro dimension `[L_tmpnam]` only in
            # parameter position (abstract declarators like stdio.h's
            # `char[L_tmpnam]`) — NEVER in expression contexts, where
            # `new int[10]` must keep its dimension for
            # ArrayCreationExpression.  The canonical type drops the
            # extent (ArrayType resolution is extent-free in the
            # reference's TypeParser).
            self.next()
            if self.peek().kind != "]":
                self.next()
            self.next()
            suffix += "[]"
        # typedef alias expansion (innermost scope wins; expansions are
        # stored fully-resolved so chains need one lookup)
        expanded = self._typedef_lookup(name)
        if expanded is not None:
            name = expanded
        return normalize_type(name + suffix)

    # --------------------------------------------------------------- class
    def parse_class(self, path: str, anon_name: str | None = None) -> str | None:
        kw_t = self.next()  # class | struct | interface (java)
        kw = kw_t.text
        if self.peek().kind == "ident":
            name_t = self.next()
            name = name_t.text
        elif anon_name is not None and self.peek().kind == "{":
            # anonymous record in a typedef (`typedef struct {...} S;`) —
            # named after its first typedef declarator, the common C idiom
            name_t = kw_t
            name = anon_name
        else:
            return None
        rid = self.node(path, "RecordDeclaration", name, self._tloc(name_t),
                        props={"kind": kw})
        rec = {"decl_id": rid, "name": name, "fields": {}, "methods": {},
               "ctors": [], "supers": [],
               "module": self._ns_stack[-1] if self._ns_stack else None}
        self.records[name] = rec
        self.declare(name, rid, "record", name)
        # supertypes: java `extends A implements B`, cpp `: public A`
        if self.dialect == "java":
            while self.peek().kind == "ident" and self.peek().text in (
                    "extends", "implements"):
                self.next()
                while True:
                    sup = self.parse_type()
                    if sup:
                        rec["supers"].append(sup)
                        self.edge(rid, "SUPER_TYPE", self.type_node(sup))
                    if not self.accept(","):
                        break
        elif self.accept(":"):
            while True:
                self._skip_modifiers()
                if self.peek().kind == "ident" and self.peek().text in (
                        "public", "private", "protected"):
                    self.next()
                sup = self.parse_type()
                if sup:
                    rec["supers"].append(sup)
                    self.edge(rid, "SUPER_TYPE", self.type_node(sup))
                if not self.accept(","):
                    break
        if self.peek().kind != "{":
            self.accept(";")
            return rid
        self.expect("{")
        # keep the record's scope object so out-of-line member definitions
        # (`Type A::member ...` at file scope) can re-open it
        rec["scope"] = self.enter_scope("record", name, rid)
        self._typedefs.append({})  # member typedefs scope the record body
        mi = 0
        while self.peek().kind not in ("}", "eof"):
            t = self.peek()
            if t.kind == ";":
                self.next()
                continue
            if t.kind == "annotation":
                self._collect_annotations()
                continue
            if t.kind == "ident" and t.text in ("public", "private",
                                                "protected") \
                    and self.peek(1).kind == ":":
                self.next()
                self.next()
                continue
            got = self.parse_member_or_global(f"{path}.m[{mi}]", record=rec,
                                              parent=rid, index=mi)
            if got is None:
                self.next()
            mi += 1
        self.expect("}")
        self._typedefs.pop()
        self.leave_scope()
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek().text == "typedef"):
            # postfix typedef — `struct S { ... } typedef s_t;` is legal C
            # specifier placement (CXXAmbiguitiesTest fixture
            # function_ptr_or_type_cast.c:3-5); registers in the ENCLOSING
            # typedef scope (the record-body scope was just popped)
            self.next()
            ti = 0
            while True:
                ptr = ""
                while self.peek().kind == "*":
                    self.next()
                    ptr += "*"
                if self.peek().kind != "ident":
                    break
                alias_t = self.next()
                target = normalize_type(name + ptr)
                self._typedefs[-1][alias_t.text] = target
                tid = self.node(f"{path}.td[{ti}]", "TypedefDeclaration",
                                alias_t.text, self._tloc(alias_t),
                                props={"type": target})
                self.edge(tid, "EVAL_TYPE", self.type_node(target))
                self.edge(self.type_node(alias_t.text), "SUPER_TYPE",
                          self.type_node(target))
                ti += 1
                if not self.accept(","):
                    break
        self.accept(";")
        return rid

    def parse_enum(self, path: str, parent: str, index: int) -> str | None:
        """``enum [class|struct] Name [: T | implements I] { A, B = e, C(x) }
        [decl];`` -> EnumDeclaration with ENTRIES-linked
        EnumConstantDeclaration children (EnumDeclaration.java:38-47
        ENTRIES/SUPER_TYPES; DeclarationHandler.java:388-410 sets every
        entry's EVAL_TYPE to the enum's own type).

        The enum registers as a record so qualified access (``Color.RED`` /
        ``Color::RED``) and Java static imports resolve through the
        ordinary member machinery; UNSCOPED C/C++ enum constants
        additionally leak into the enclosing scope (C semantics), so bare
        ``RED`` references link to the entry.  Java constant arguments
        parse as ARGUMENTS; C initializers get INITIALIZER + DFG like
        fields (FieldDeclaration.java:100)."""
        kw_t = self.next()  # 'enum'
        scoped = False
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek().text in ("class", "struct")
                and self.peek(1).kind == "ident"):
            self.next()
            scoped = True
        if self.peek().kind == "ident":
            name_t = self.next()
            name = name_t.text
        else:
            name_t, name = kw_t, ""  # anonymous C enum: constants leak
        supers: list[str] = []
        underlying = None
        if self.dialect == "cpp" and self.accept(":"):
            underlying = self.parse_type()
        elif self.dialect == "java":
            while (self.peek().kind == "ident"
                   and self.peek().text == "implements"):
                self.next()
                while True:
                    sup = self.parse_type()
                    if sup:
                        supers.append(sup)
                    if not self.accept(","):
                        break
        if self.peek().kind != "{":
            if self.peek().kind == "ident" and name:
                # elaborated variable declaration: `enum Color c;`
                self._enum_declarators(path, parent, index, name)
                return None
            # opaque-enum / forward declaration: `enum class E : int;`
            self.accept(";")
            return None
        props = {"scoped": "true"} if scoped else {}
        if underlying:
            props["underlying"] = underlying
        eid = self.node(path, "EnumDeclaration", name, self._tloc(name_t),
                        props=props or None)
        etype = name or "int"
        for sup in supers:
            self.edge(eid, "SUPER_TYPE", self.type_node(sup))
        rec = {"decl_id": eid, "name": name, "fields": {}, "methods": {},
               "ctors": [], "supers": supers, "is_enum": True,
               "module": self._ns_stack[-1] if self._ns_stack else None}
        if name:
            self.records[name] = rec
            self.declare(name, eid, "record", name)
        self.expect("{")
        ei = 0
        while self.peek().kind not in ("}", "eof", ";"):
            if self.peek().kind != "ident":
                self.next()
                continue
            ct = self.next()
            cid = self.node(f"{path}.e[{ei}]", "EnumConstantDeclaration",
                            ct.text, self._tloc(ct))
            self.eval_type(cid, etype)
            # materialized ENTRIES edge + the AST subgraph edge, mirroring
            # the FIELDS double emission (EnumDeclaration.java:40
            # @Relationship("ENTRIES") @SubGraph("AST"))
            self.edge(eid, "ENTRIES", cid, {"index": ei})
            self.ast_edge(eid, cid, "ENTRIES", ei)
            if self.peek().kind == "(":
                # java constant arguments: RED(255, 0, 0)
                self._parse_args(cid, f"{path}.e[{ei}]")
            if self.peek().kind == "{":
                # java constant class body — out of the subset grammar
                self._skip_balanced("{", "}")
            if self.accept("="):
                init_id, _ = self.parse_expr(f"{path}.e[{ei}].init")
                self.ast_edge(cid, init_id, "INITIALIZER", 0)
                self.edge(init_id, "DFG", cid)
            rec["fields"][ct.text] = cid
            rec.setdefault("field_types", {})[ct.text] = etype
            if self.dialect == "java":
                # entries are implicitly public static final — importable
                # via `import static Color.RED` like any static field
                rec.setdefault("field_statics", set()).add(ct.text)
            elif not scoped:
                # unscoped C/C++ enum: constants are visible in the
                # enclosing scope without qualification
                self.declare(ct.text, cid, "var", etype)
            ei += 1
            # glibc interleaves `#define X X` re-exports between entries
            # (pthread.h): preprocessor lines are transparent here
            while self.peek().kind == "preproc":
                self.next()
            if not self.accept(","):
                break
        while self.peek().kind == "preproc":
            self.next()
        if self.accept(";"):
            # java: members after the constant list parse like a record
            # body (enums are full classes in the JLS)
            rec["scope"] = self.enter_scope("record", name, eid)
            self._typedefs.append({})
            mi = 0
            while self.peek().kind not in ("}", "eof"):
                if self.peek().kind == ";":
                    self.next()
                    continue
                got = self.parse_member_or_global(f"{path}.m[{mi}]",
                                                  record=rec, parent=eid,
                                                  index=mi)
                if got is None:
                    self.next()
                mi += 1
            self._typedefs.pop()
            self.leave_scope()
        self.expect("}")
        if self.dialect == "cpp":
            # trailing declarators: `enum Color { RED } c, d;`
            self._enum_declarators(path, parent, index, etype)
        else:
            self.accept(";")
        return eid

    def _enum_declarators(self, path: str, parent: str, index: int,
                          etype: str) -> None:
        """Comma-separated variable declarators of an enum type, shared by
        the trailing-declarator (`enum C { .. } c;`) and elaborated
        (`enum C c;`) forms."""
        vi = 0
        while self.peek().kind == "ident":
            vt = self.next()
            vid = self.node(f"{path}.v[{vi}]", "VariableDeclaration",
                            vt.text, self._tloc(vt))
            self.eval_type(vid, etype)
            if self.accept("="):
                init_id, _ = self.parse_expr(f"{path}.v[{vi}].init")
                self.ast_edge(vid, init_id, "INITIALIZER", 0)
                self.edge(init_id, "DFG", vid)
            self.declare(vt.text, vid, "var", etype)
            self.ast_edge(parent, vid, "DECLARATIONS", index)
            vi += 1
            if not self.accept(","):
                break
        self.accept(";")

    def _fnptr_decl_ahead(self) -> bool:
        """After a parsed base type: ``( * name )`` or the C++
        pointer-to-member form ``( Owner :: * name )``
        (func_ptr.cpp ``void (A::* no_param) ()``)."""
        if self.peek().kind != "(":
            return False
        j = 1
        if (self.dialect == "cpp" and self.peek(j).kind == "ident"
                and self.peek(j + 1).kind == "::"):
            j += 2
        if self.peek(j).kind != "*":
            return False
        return (self.peek(j + 1).kind == "ident"
                and self.peek(j + 2).kind == ")")

    @staticmethod
    def _fnptr_sig(tpe: str | None):
        """Parameter-type list of a fnptr type spelling
        (``void(*)(int)`` -> ["int"]); None when not a fnptr type."""
        if not tpe:
            return None
        m = re.search(r"\(\s*\*\s*\)\s*\((.*)\)\s*$", tpe)
        if m is None:
            return None
        inner = m.group(1).strip()
        if not inner:
            return []
        return [p.strip() or None for p in inner.split(",")]

    def _hint_from_init(self, init_id, imeta, params):
        """Attach the fnptr signature to the function reference inside a
        declarator initializer / assignment RHS (``= &target`` or
        ``= target``)."""
        if imeta is None:
            return
        if (imeta.get("kind") == "unary" and imeta.get("name") == "&"
                and imeta.get("inner_kind") in ("ref", "member")):
            self._ref_sig_hint[imeta["inner_id"]] = list(params)
        elif imeta.get("kind") in ("ref", "member"):
            self._ref_sig_hint[init_id] = list(params)

    def _parse_fnptr_var(self, path: str, tname: str, parent, index,
                         record=None):
        """``base (*name)(params) [= init];`` — function-pointer variable
        (FunctionPointerType.java:41; typedefs.cpp uintfp1/intFptr1), with
        an optional initializer so ``void (*ptr)(int) = &foo;`` binds the
        DFG edge the link-stage fnptr walk (CallResolver.java:1402-1434)
        chases — CXXAmbiguitiesTest function_ptr_or_type_cast.c.  The
        C++ pointer-to-member form ``base (Owner::* name)(params)`` and
        record-field placement (FunctionPointerTest func_ptr.cpp) are
        handled too; the ``&target`` initializer reference resolves by
        the declared SIGNATURE (params), not the bare scope ladder."""
        self.next()
        if (self.peek().kind == "ident" and self.peek(1).kind == "::"):
            self.next()
            self.next()
        self.next()
        name_t = self.next()
        self.accept(")")
        params = []
        if self.accept("("):
            while self.peek().kind not in (")", "eof"):
                pt = self.parse_type()
                if pt is None:
                    self.next()
                    continue
                params.append(pt)
                if self.peek().kind == "ident":
                    self.next()
                if not self.accept(","):
                    break
            self.accept(")")
        fpt = normalize_type(f"{tname}(*)({', '.join(params)})")
        if record is not None and not self.in_function():
            # fnptr FIELD (func_ptr.cpp class A) — mirrors
            # parse_var_after_type's field branch
            vid = self.node(f"{path}.f[0]", "FieldDeclaration",
                            name_t.text, self._tloc(name_t))
            self.eval_type(vid, fpt)
            self.edge(record["decl_id"], "FIELDS", vid,
                      {"index": len(record["fields"])})
            self.ast_edge(record["decl_id"], vid, "FIELDS",
                          len(record["fields"]))
            record["fields"][name_t.text] = vid
            record.setdefault("field_types", {})[name_t.text] = fpt
            self.scopes[-1].decls[name_t.text] = {
                "decl_id": vid, "kind": "field", "type": fpt}
        else:
            vid = self.node(f"{path}.v[0]", "VariableDeclaration",
                            name_t.text, self._tloc(name_t))
            self.eval_type(vid, fpt)
            self.declare(name_t.text, vid, "var", fpt)
        if self.accept("="):
            init_id, imeta = self.parse_expr(f"{path}.init[0]")
            self.ast_edge(vid, init_id, "INITIALIZER", 0)
            self.edge(init_id, "DFG", vid)  # VariableDeclaration.java:118
            self._hint_from_init(init_id, imeta, params)
        self.accept(";")
        if record is not None and not self.in_function():
            return vid
        ds = self.node(path, "DeclarationStatement", "", None, code="")
        self.ast_edge(ds, vid, "DECLARATIONS", 0)
        self.ast_edge(parent, ds,
                      "STATEMENTS" if self.in_function()
                      else "DECLARATIONS", index)
        return ds

    # ------------------------------------------------- members & functions
    def parse_member_or_global(self, path: str, record, parent, index):
        """Dispatch: method/ctor/field/global-var/free-function, or None."""
        self._skip_modifiers()
        t = self.peek()
        if (t.kind == "ident" and t.text == "template"
                and self.dialect == "cpp" and self.peek(1).kind == "<"):
            return self.parse_template(path + ".t", record, parent, index)
        if t.kind == "ident" and (
                t.text in ("class", "struct")
                or (t.text == "interface" and self.dialect == "java")):
            nid = self.parse_class(path + ".c")
            if nid:
                self.ast_edge(parent, nid, "DECLARATIONS", index)
            return nid
        if (t.kind == "ident" and t.text == "enum"
                and (self.peek(1).kind == "{"
                     or (self.peek(1).kind == "ident"
                         and self.peek(1).text in ("class", "struct"))
                     or (self.peek(1).kind == "ident"
                         and (self.peek(2).kind in ("{", ":")
                              or (self.peek(2).kind == "ident"
                                  and self.peek(2).text == "implements"))))):
            # nested/member enum declaration (NOT an elaborated type
            # specifier like `enum Color c;`, which parse_type handles)
            nid = self.parse_enum(path + ".en", parent, index)
            if nid:
                self.ast_edge(parent, nid, "DECLARATIONS", index)
            return nid
        # constructor: RecordName '(' inside its own record
        if (record is not None and t.kind == "ident"
                and t.text == record["name"] and self.peek(1).kind == "("):
            return self.parse_function(path, None, record, parent, index,
                                       ctor=True)
        if self.dialect == "cpp" and self._stmt_has_typedef():
            return self.parse_typedef(path + ".td",
                                      record["decl_id"] if record else parent,
                                      index)
        if (self.dialect == "cpp" and record is None and t.kind == "ident"
                and self.peek(1).kind == "::"):
            # out-of-line constructor ``Owner::Owner(`` — checked BEFORE
            # parse_type, which would swallow the whole qualified name
            # (there is no return type to anchor on); CXXIncludeTest's
            # include.cpp defines SomeClass::SomeClass() at file scope
            j = self.i
            segs = [self.toks[j].text]
            j += 1
            while (self.toks[j].kind == "::"
                   and self.toks[j + 1].kind == "ident"):
                segs.append(self.toks[j + 1].text)
                j += 2
            if (len(segs) >= 2 and segs[-1] == segs[-2]
                    and self.toks[j].kind == "("):
                self.i = j - 1  # reposition at the ctor name token
                return self._out_of_line_fn(path, None, segs[-2], parent,
                                            index, ctor=True)
        if (self.dialect == "cpp" and record is not None
                and t.kind == "ident" and t.text == "operator"
                and self.peek(1).kind == "ident"):
            # conversion operator `operator bool() const` — no return
            # type; the method is named after the target type (CDT's
            # ICPPASTConversionName)
            save = self.i
            op_t = self.next()
            target = self.parse_type()
            if target is not None and self.peek().kind == "(":
                self.toks.insert(self.i, Tok("ident", "operator " + target,
                                             op_t.line, op_t.col))
                return self.parse_function(path, target, record, parent,
                                           index)
            self.i = save
        save = self.i
        tname = self.parse_type()
        if tname is None:
            self.i = save
            return None
        if self.dialect == "cpp" and self._fnptr_decl_ahead():
            return self._parse_fnptr_var(path, tname, parent, index,
                                         record=record)
        if self.peek().kind != "ident":
            self.i = save
            return None
        if (self.dialect == "cpp" and record is None
                and (self.peek(1).kind == "::"
                     or (self.peek(1).kind == "<"
                         and self.toks[self._skip_angle_group(
                             self.i + 1)].kind == "::"))):
            # the owner may be a template-id:
            # `void _Rb_tree<_Key, ...>::_M_move_assign(...) { }` —
            # out-of-line template member definitions (round-5 bits/ fix:
            # these previously fell to the declarator path, leaving the
            # BODY to parse as top-level declarations)
            got = self._parse_out_of_line(path, tname, parent, index)
            if got is not None:
                return got
            self.i = save
            return None
        name_t = self.peek()
        if (self.dialect == "cpp" and name_t.kind == "ident"
                and name_t.text == "operator"):
            # operator overload: splice `operator` + symbol tokens into
            # ONE ident (`operator+`, `operator()`, `operator new[]`) so
            # parse_function consumes the name normally (CDT names these
            # methods the same way)
            j = self.i + 1
            sym = None
            consumed = 0
            tk = self.toks[j]
            if tk.kind == "(" and self.toks[j + 1].kind == ")":
                sym, consumed = "()", 2
            elif tk.kind == "[" and self.toks[j + 1].kind == "]":
                sym, consumed = "[]", 2
            elif tk.kind == "ident" and tk.text in ("new", "delete"):
                sym, consumed = " " + tk.text, 1
                if (self.toks[j + 1].kind == "["
                        and self.toks[j + 2].kind == "]"):
                    sym += "[]"
                    consumed = 3
            elif tk.kind not in ("ident", "(", ")", ";", "{", "}", "eof"):
                sym, consumed = tk.text, 1
            if sym is not None and self.toks[j + consumed].kind == "(":
                merged = Tok("ident", "operator" + sym,
                             name_t.line, name_t.col)
                self.toks[self.i:self.i + 1 + consumed] = [merged]
                return self.parse_function(path, tname, record, parent,
                                           index)
        if self.peek(1).kind == "(":
            return self.parse_function(path, tname, record, parent, index)
        # field / variable (possibly comma-separated)
        return self.parse_var_after_type(path, tname, record, parent, index)

    def _skip_angle_group(self, j: int) -> int:
        """Token index after a balanced ``<...>`` group starting at j
        (template-id qualifiers: `_Rb_tree<_K, _C>::member`); j itself
        when no group starts there or it never closes."""
        if self.toks[j].kind != "<":
            return j
        d, pd = 0, 0
        start = j
        while self.toks[j].kind != "eof":
            k = self.toks[j].kind
            if k == "(":
                pd += 1
            elif k == ")" and pd:
                pd -= 1
            elif pd == 0 and k == "<":
                d += 1
            elif pd == 0 and k == ">":
                d -= 1
                if d == 0:
                    return j + 1
            elif pd == 0 and k == ">>":
                d -= 2
                if d <= 0:
                    return j + 1
            elif k in (";", "{"):
                return start
            j += 1
        return start

    def _parse_out_of_line(self, path, tname, parent, index):
        """Out-of-line C++ member definitions at file scope:
        ``Type A::B::member = init;`` binds the initializer to the class's
        FieldDeclaration (no new variable is minted — the reference's CDT
        binding resolves the qualified name to the in-class member), and
        ``Type A::method(...) { ... }`` re-opens A's record scope and
        attaches the body to the in-class prototype when one exists."""
        j = self.i
        segs = [self.toks[j].text]
        last_ident = j
        j = self._skip_angle_group(j + 1)
        while self.toks[j].kind == "::" and self.toks[j + 1].kind == "ident":
            segs.append(self.toks[j + 1].text)
            last_ident = j + 1
            j = self._skip_angle_group(j + 2)
        if len(segs) < 2:
            return None
        member, owner = segs[-1], segs[-2]
        rec = self.records.get(owner)
        if self.toks[j].kind == "(" and last_ident == j - 1:
            # method definition — reposition at the member ident so
            # parse_function consumes the name normally (template-id
            # qualifier segments were skipped by _skip_angle_group)
            self.i = j - 1
            return self._out_of_line_fn(path, tname, owner, parent, index,
                                        ctor=(member == owner))
        if self.toks[j].kind in ("=", ";"):
            self.i = j
            fid = rec["fields"].get(member) if rec is not None else None
            init_id = None
            if self.accept("="):
                init_id, _ = self.parse_expr(path + ".init")
            self.accept(";")
            ds = self.node(path, "DeclarationStatement", "", None,
                           code="")
            self.ast_edge(parent, ds, "DECLARATIONS", index)
            if fid is not None and init_id is not None:
                self.ast_edge(ds, init_id, "INITIALIZER", 0)
                self.edge(init_id, "DFG", fid)
            elif rec is None:
                # owner record lives in another span/document: emit the
                # lhs as a member reference so the LINK stage binds it to
                # the header's FieldDeclaration (CDT's index binding,
                # re-derived as a join)
                name_t = self.toks[j - 1]
                ref = self.node(path + ".lhs", "DeclaredReferenceExpression",
                                member, self._tloc(name_t))
                self.ast_edge(ds, ref, "DECLARATIONS", 0)
                self.out.mentions.append(self._mention(
                    ref, "member_ref", member, base_type=owner,
                    scopes=list(self.scopes)))
                if init_id is not None:
                    self.ast_edge(ds, init_id, "INITIALIZER", 0)
                    self.edge(init_id, "DFG", ref)
            return ds
        return None

    def _out_of_line_fn(self, path, tname, owner, parent, index, ctor):
        """Parse an out-of-line member function positioned at its name
        token.  When ``owner`` names no locally-parsed record the
        definition is DETACHED: the record lives in another span or
        document (a header the includes operator did not splice, or a
        cross-file definition), so the method is still emitted — carrying
        ``record=owner`` in its exported symbol and a record scope frame
        for implicit-this mentions — and hangs off the TU instead of a
        record node (CXXIncludeTest.testDefinitionsAndDeclaration parses
        include.cpp's definitions whether or not include.h is loaded)."""
        rec = self.records.get(owner)
        detached = rec is None
        if detached:
            rec = {"decl_id": None, "name": owner, "fields": {},
                   "methods": {}, "ctors": [], "supers": []}
        rec_scope = rec.get("scope")
        if rec_scope is None and detached:
            rec_scope = Scope("record", owner, None)
        if rec_scope is not None:
            self.scopes.append(rec_scope)
        try:
            reuse = None
            if not detached:
                pool = (rec["ctors"] if ctor
                        else rec["methods"].get(self.peek().text) or [])
                protos = [f for f in pool
                          if not self._functions_by_id[f]["is_definition"]]
                if len(protos) == 1:
                    reuse = protos[0]
            return self.parse_function(path, tname, rec,
                                       rec["decl_id"] if not detached
                                       else parent, index,
                                       ctor=ctor, reuse_fid=reuse)
        finally:
            if rec_scope is not None:
                self.scopes.pop()

    def parse_function(self, path, ret_type, record, parent, index,
                       ctor=False, reuse_fid=None):
        mods = getattr(self, "_cur_mods", [])
        self._cur_mods = []
        name_t = self.next()
        name = name_t.text
        if ctor:
            label = "ConstructorDeclaration"
        elif record is not None:
            label = "MethodDeclaration"
        else:
            label = "FunctionDeclaration"
        if reuse_fid is not None:
            # out-of-line definition of an in-class prototype: the body
            # attaches to the declared node (the reference merges the CDT
            # definition binding into the declaration)
            fid = reuse_fid
        else:
            fid = self.node(path, label, name, self._tloc(name_t))
        self.enter_scope("function", name, fid)
        if record is not None:
            # implicit receiver: `this`
            rid_recv = self.node(path + ".this", "VariableDeclaration",
                                 "this", None, is_implicit=True)
            self.eval_type(rid_recv, record["name"])
            self.edge(fid, "RECEIVER", rid_recv)
            self.declare("this", rid_recv, "receiver", record["name"])
        param_ids, param_names, param_types = [], [], []
        n_defaults = 0
        is_variadic = False
        self.expect("(")
        if self.dialect == "cpp" and self._knr_header_ahead():
            # K&R definition `void f(file) char *file; {` — the list is
            # NAMES, not types; the declaration block after ')' types
            # them (handled post-params)
            pidx = 0
            while self.peek().kind == "ident":
                pt = self.next()
                pid = self.node(f"{path}.p[{pidx}]",
                                "ParamVariableDeclaration", pt.text,
                                self._tloc(pt), argument_index=pidx)
                self.edge(fid, "PARAMETERS", pid, {"index": pidx})
                self.ast_edge(fid, pid, "PARAMETERS", pidx)
                self.declare(pt.text, pid, "param", None)
                param_ids.append(pid)
                param_names.append(pt.text)
                param_types.append(None)
                pidx += 1
                if not self.accept(","):
                    break
        pidx = 0
        while self.peek().kind not in (")", "eof"):
            self._skip_modifiers()  # also queues param annotations
            if (self.peek().kind == "." and self.peek(1).kind == "."
                    and self.peek(2).kind == "."):
                self.next(); self.next(); self.next()
                is_variadic = True
                break
            ptype = self.parse_type(sized_arrays=True)
            if ptype is None:
                if not self.accept(","):
                    break
                continue
            if (self.peek().kind == "." and self.peek(1).kind == "."
                    and self.peek(2).kind == "."):
                # Java varargs `String... args` (JLS 8.4.1): the declared
                # parameter is an array of the element type and the
                # method is variadic for the call-resolution ladder
                self.next(); self.next(); self.next()
                is_variadic = True
                ptype = normalize_type(ptype + "[]")
            if (self.dialect == "cpp" and ptype
                    and self.peek().kind == "("
                    and self.peek(1).kind in ("ident",)
                    and self.peek(2).kind == ")"
                    and self.peek(3).kind == "ident"
                    and re.match(r"^_*[A-Z][A-Za-z0-9_]*$", ptype)):
                # function-like macro decorating the parameter type
                # (`_GLIBCXX_FWDREF(_Arg) __arg`, stl_tree.h operator()):
                # the macro argument IS the type spelling
                self.next()
                ptype = normalize_type(self.next().text)
                self.next()  # ')'
            if self.peek().kind == "(" and self.peek(1).kind == "*":
                # function-pointer parameter `ret (*name)(params)`
                # (FunctionPointerType.java:41; retdec client.c protos)
                self.next()
                self.next()
                pt = (self.next() if self.peek().kind == "ident" else None)
                self.accept(")")
                fpp = []
                if self.accept("("):
                    while self.peek().kind not in (")", "eof"):
                        fp = self.parse_type()
                        if fp is None:
                            self.next()
                            continue
                        fpp.append(fp)
                        if self.peek().kind == "ident":
                            self.next()
                        if not self.accept(","):
                            break
                    self.accept(")")
                ptype = normalize_type(f"{ptype}(*)({', '.join(fpp)})")
            elif (self.dialect == "cpp" and self.peek().kind == "("
                  and self.peek(1).kind == "ident"
                  and self.peek(2).kind == "::"
                  and self.peek(3).kind == "*"):
                # pointer-to-member-function parameter
                # `_Ret (_Tp::*__f)(_Arg) const` — the SGI mem_fun family
                # (stl_function.h:1231-1412; round-5 bits/-tail fix)
                self.next()  # '('
                owner_parts = [self.next().text]  # owner class
                while self.peek().kind == "::" and self.peek(1).kind == "ident":
                    self.next()
                    owner_parts.append(self.next().text)
                self.accept("::")
                self.accept("*")
                pt = (self.next() if self.peek().kind == "ident" else None)
                self.accept(")")
                fpp = []
                if self.accept("("):
                    while self.peek().kind not in (")", "eof"):
                        fp = self.parse_type()
                        if fp is None:
                            self.next()
                            continue
                        fpp.append(fp)
                        if self.peek().kind == "ident":
                            self.next()
                        if not self.accept(","):
                            break
                    self.accept(")")
                if (self.peek().kind == "ident"
                        and self.peek().text == "const"):
                    self.next()  # cv-qualified member function
                ptype = normalize_type(
                    f"{ptype}({'::'.join(owner_parts)}::*)"
                    f"({', '.join(fpp)})")
            elif (self.peek().kind == "(" and self.peek(1).kind == "&"
                  and self.dialect == "cpp"):
                # reference-to-array parameter `T (&name)[N]`
                # (std::swap's array overload): resolves as T[]
                self.next()
                self.next()
                pt = (self.next() if self.peek().kind == "ident" else None)
                self.accept(")")
                while self.peek().kind == "[":
                    self._skip_balanced("[", "]")
                ptype = normalize_type((ptype or "") + "[]")
            else:
                pt = None
                if self.peek().kind == "ident":
                    pt = self.next()
                    if self.peek().kind == "(":
                        # function-TYPE parameter `Tp func(Tp)` (valarray
                        # apply): decays to a function pointer
                        fpp = []
                        self.next()
                        while self.peek().kind not in (")", "eof"):
                            fp = self.parse_type()
                            if fp is None:
                                self.next()
                                continue
                            fpp.append(fp)
                            if self.peek().kind == "ident":
                                self.next()
                            if not self.accept(","):
                                break
                        self.accept(")")
                        ptype = normalize_type(
                            f"{ptype}(*)({', '.join(fpp)})")
                    while self.peek().kind == "[":  # C array suffix argv[]
                        self._skip_balanced("[", "]")
                        ptype = (ptype or "") + "[]"
                    while (self.dialect == "cpp"
                           and self.peek().kind == "ident"
                           and self.peek(1).kind in (",", ")")):
                        # glibc attribute macros AFTER the name
                        # (`const locale& __loc _IsUnused`): nothing can
                        # legally follow a param name but `=`/`,`/`)`/`[`
                        self.next()
            # unnamed parameters (prototypes like `void f(int, char)`)
            # still count toward the signature
            pid = self.node(f"{path}.p[{pidx}]",
                            "ParamVariableDeclaration",
                            pt.text if pt else "",
                            self._tloc(pt) if pt else None,
                            argument_index=pidx)
            if ptype:
                self.eval_type(pid, ptype)
            if reuse_fid is None:  # else the prototype's edges stand
                self.edge(fid, "PARAMETERS", pid, {"index": pidx})
                self.ast_edge(fid, pid, "PARAMETERS", pidx)
            if pt is not None:
                self.declare(pt.text, pid, "param", ptype)
            # C++ default argument (CallResolver.java:980-1014): calls may
            # omit this and every following parameter
            if self.accept("="):
                dflt, _ = self.parse_expr(f"{path}.p[{pidx}].d")
                self.ast_edge(pid, dflt, "DEFAULT", 0)
                n_defaults += 1
            param_ids.append(pid)
            param_names.append(pt.text if pt else "")
            param_types.append(ptype)
            pidx += 1
            if not self.accept(","):
                break
        self.expect(")")
        if ret_type:
            self.eval_type(fid, ret_type)
        # java `throws X`, cpp `const`/`override` before body
        while self.peek().kind == "ident" and self.peek().text in (
                "throws", "const", "override", "noexcept", "final"):
            self.next()
            while self.peek().kind == "ident" or self.peek().kind == ",":
                if self.peek().kind == "ident" and self.peek(1).kind == "{":
                    break
                self.next()
        if self.dialect == "cpp":
            # K&R parameter declarations between header and body:
            # `void f(file) char *file; { ... }` — type the already-
            # collected params by name (pre-ANSI C, minigzip.c)
            while (self.peek().kind == "ident"
                   and self.peek().text not in _KEYWORDS
                   and self._knr_decl_ahead()):
                ktype = self.parse_type()
                while self.peek().kind == "ident":
                    pname = self.next().text
                    ptr = ""
                    if ktype and ktype.endswith("*"):
                        pass  # pointer spelling already in ktype
                    if pname in param_names and ktype:
                        k = param_names.index(pname)
                        self.eval_type(param_ids[k], ktype)
                    while self.peek().kind == "[":
                        self._skip_balanced("[", "]")
                    if not self.accept(","):
                        break
                    while self.peek().kind == "*":
                        self.next()
                self.accept(";")
        if (self.dialect == "cpp" and self.peek().kind == "="
                and ((self.peek(1).kind == "ident"
                      and self.peek(1).text in ("default", "delete"))
                     or self.peek(1).kind == "int")):
            # `= default;` / `= delete;` (C++11) / pure virtual `= 0;` —
            # declaration-only, no body
            self.next()
            self.next()
        if (self.dialect == "cpp" and self.peek().kind == ":"
                and self.peek(1).kind == "ident"):
            # ctor mem-initializer list `P() : x(a), Base(0), y{...} {`
            # (round 5): members get initializer DFG like in-class field
            # inits; a class-or-base target (incl. the DELEGATING
            # `P() : P(0)`) becomes an ExplicitConstructorInvocation
            # resolved through the ctor ladder — the same node model the
            # java dialect emits for this()/super().  Before this, the
            # list leaked into the record-member loop: delegating ctors
            # degraded to Problem nodes (random.h param_type x16) and the
            # ctor BODY silently parsed as record members.
            self.next()
            ii = 0
            while self.peek().kind == "ident":
                mt = self.next()
                while self.peek().kind == "::" and self.peek(1).kind == "ident":
                    self.next()
                    mt = self.next()  # qualified base: last segment names it
                if self.peek().kind == "<":
                    self._skip_balanced("<", ">")  # Base<T>(...)
                mpath = f"{path}.minit[{ii}]"
                is_ctor_target = (record is not None
                                  and (mt.text == record["name"]
                                       or mt.text in record["supers"]))
                f_id = (record["fields"].get(mt.text)
                        if record is not None else None)
                if self.peek().kind == "(" and is_ctor_target:
                    nid = self.node(
                        mpath, "ExplicitConstructorInvocation",
                        "this" if mt.text == record["name"] else "super",
                        self._tloc(mt),
                        props={"containingClass": mt.text})
                    args = self._parse_args(nid, mpath)
                    self.ast_edge(fid, nid, "INITIALIZERS", ii)
                    # deferred: the delegated-to ctor may be declared
                    # LATER in the class (random.h's
                    # `param_type() : param_type(0)`) — resolve once the
                    # whole document is parsed, like the reference's
                    # whole-graph CallResolver
                    self._deferred_ctor_inits = getattr(
                        self, "_deferred_ctor_inits", [])
                    self._deferred_ctor_inits.append((nid, mt.text, args))
                elif self.peek().kind == "(":
                    self.next()
                    eid = None
                    if self.peek().kind != ")":
                        eid, _ = self.parse_expr(mpath)
                        # one path per extra argument: `v(x, y, z)` must
                        # not mint y and z at the same node id
                        ai = 1
                        while self.accept(","):
                            if self.peek().kind == ")":
                                break
                            self.parse_expr(f"{mpath}.x[{ai}]")
                            ai += 1
                    self.expect(")")
                    if eid is not None:
                        self.ast_edge(fid, eid, "INITIALIZERS", ii)
                        if f_id:
                            self.edge(eid, "DFG", f_id)
                elif self.peek().kind == "{":
                    lid, _ = self.parse_init_list(mpath)
                    self.ast_edge(fid, lid, "INITIALIZERS", ii)
                    if f_id:
                        self.edge(lid, "DFG", f_id)
                ii += 1
                if not self.accept(","):
                    break
        has_body = self.peek().kind == "{"
        if has_body:
            infos = self.parse_block(path + ".body", fid, "BODY")
            build_eog(self, fid, infos)
        else:
            self.accept(";")  # declaration only (prototype)
        self.leave_scope()
        if reuse_fid is not None:
            # keep the prototype's registration; only mark it defined and
            # adopt the definition's parameter nodes for arg->param DFG
            info = self._functions_by_id[fid]
            info["is_definition"] = has_body or info["is_definition"]
            info["param_ids"] = param_ids or info["param_ids"]
            return fid
        fn_info = {
            "decl_id": fid, "kind": "function", "name": name,
            "n_params": len(param_ids), "param_ids": param_ids,
            "param_names": param_names,
            "param_types": param_types, "n_defaults": n_defaults,
            "is_variadic": is_variadic, "is_definition": has_body,
            "record": record["name"] if record else None,
            "ret_type": ret_type,
            # Java static members are importable by `import static`
            # (StaticImportsTest) — exported ALSO as module-level symbols
            # under the record-qualified module in _export_symbols
            "is_static": "static" in mods,
            # namespace members export under the namespace FQN module
            "module": self._ns_stack[-1] if self._ns_stack else None,
        }
        self._functions_by_id[fid] = fn_info
        self._overloads.setdefault(
            (record["name"] if record else "", name), []).append(fn_info)
        if record is not None and record["decl_id"] is None:
            # detached out-of-line member (owner record in another
            # span/document): no local record node to hang off — attach to
            # the TU; the exported symbol still carries record=owner so
            # linking binds it to the real record cross-span
            (record["ctors"] if ctor
             else record["methods"].setdefault(name, [])).append(fid)
            self.ast_edge(parent, fid, "DECLARATIONS", index)
        elif record is not None:
            if ctor:
                self.edge(record["decl_id"], "CONSTRUCTORS", fid,
                          {"index": len(record["ctors"])})
                self.ast_edge(record["decl_id"], fid, "CONSTRUCTORS",
                              len(record["ctors"]))
                record["ctors"].append(fid)
            else:
                self.edge(record["decl_id"], "METHODS", fid,
                          {"index": len(record["methods"])})
                self.ast_edge(record["decl_id"], fid, "METHODS",
                              len(record["methods"]))
                record["methods"].setdefault(name, []).append(fid)
                # methods are resolvable from sibling scopes
                self.scopes[-1].decls.setdefault(
                    name, {"decl_id": fid, "kind": "function", "type": None,
                           "fn": fn_info})
        else:
            self.declare(name, fid, "function", None)
            self.scopes[-1].decls[name] = {"decl_id": fid, "kind": "function",
                                           "type": None, "fn": fn_info}
            self.ast_edge(parent, fid, "DECLARATIONS", index)
        return fid

    def _scan_tparam_tokens(self, stop_eq: bool = False) -> str:
        """Balanced token run inside a template parameter list: stops at
        `,` / `>` / `>>` (and `=` when ``stop_eq``) at depth 0; angles
        only count at paren depth 0, so parenthesized comparisons
        (`bool = (_Nb < X)`) and SFINAE call expressions
        (`enable_if<_PCCP::template _X<_U1,_U2>() && ...>`) scan
        correctly.  A terminal `>>` with one open angle splits in place
        (`X<Y>>`: first `>` closes the run, second stays for the
        header).  Returns the spelling."""
        parts, pd, ad = [], 0, 0
        while self.peek().kind != "eof":
            k = self.peek().kind
            if pd == 0 and ad == 0 and (
                    k in (",", ">", ">>") or (stop_eq and k == "=")):
                break
            if k in ("(", "["):
                pd += 1
            elif k in (")", "]"):
                pd -= 1
            elif k == "<" and pd == 0:
                ad += 1
            elif k == ">" and pd == 0 and ad > 0:
                ad -= 1
            elif k == ">>" and pd == 0:
                if ad >= 2:
                    ad -= 2
                else:
                    parts.append(">")
                    old = self.peek()
                    self.toks[self.i] = Tok(">", ">", old.line, old.col + 1)
                    if ad == 1:
                        ad = 0
                        continue
                    break
            parts.append(self.next().text)
        return " ".join(parts)

    def parse_template(self, path: str, record, parent, index):
        """``template <class T=int, int N=5>`` + realization —
        FunctionTemplateDeclaration with PARAMETERS (TypeParamDeclaration
        with DEFAULT type / ParamVariableDeclaration with DEFAULT literal)
        and a REALIZATION edge to the wrapped function
        (TemplateDeclaration.java:40-66, FunctionTemplateTest
        testFunctionTemplateStructure)."""
        t0 = self.next()  # 'template'
        tparams: list[dict] = []
        self.expect("<")
        pi = 0
        while self.peek().kind not in (">", "eof"):
            if self.peek().kind == "ident" and self.peek().text in (
                    "class", "typename"):
                kw_tok = self.next()
                pack = False
                if (self.peek().kind == "." and self.peek(1).kind == "."
                        and self.peek(2).kind == "."):
                    # template parameter pack `typename... Args`
                    self.next(); self.next(); self.next()
                    pack = True
                if (kw_tok.text == "typename" and not pack
                        and self.peek().kind == "ident"
                        and self.peek(1).kind in ("<", "::")):
                    # `typename enable_if<COND, TYPE>::type [nm] [= dflt]`
                    # — a DEPENDENT-typed non-type parameter, the SFINAE
                    # constructor gate all over libstdc++'s bits/
                    # (stl_pair.h:375-560); `typename` here introduces a
                    # dependent type, not a type-parameter name (round-5
                    # bits/-tail fix: these degraded as 'expected >')
                    tspell = self._scan_tparam_tokens(stop_eq=True)
                    nt = (self.next() if self.peek().kind == "ident"
                          else None)
                    dflt = (self._scan_tparam_tokens()
                            if self.accept("=") else None)
                    tparams.append({"kind": "value",
                                    "name": nt.text if nt else "",
                                    "type": tspell, "default": dflt,
                                    "pi": pi})
                    pi += 1
                    if not self.accept(","):
                        break
                    continue
                # the parameter name is optional (`template<typename = D>`)
                pname = (self.next().text if self.peek().kind == "ident"
                         else "")
                dflt = None
                if self.accept("="):
                    dflt = self.parse_type()
                tparams.append({"kind": "type", "name": pname,
                                "default": dflt, "pi": pi, "pack": pack})
            elif (self.peek().kind == "ident"
                  and self.peek().text == "template"
                  and self.peek(1).kind == "<"):
                # template-template parameter
                # `template<class, class> class _Meta` — the inner header
                # is spelling-only; the param behaves as a type param
                self.next()
                d = 0
                while self.peek().kind != "eof":
                    k = self.peek().kind
                    if k == "<":
                        d += 1
                    elif k == ">":
                        d -= 1
                    elif k == ">>":
                        d -= 2
                    self.next()
                    if d <= 0:
                        break
                if (self.peek().kind == "ident"
                        and self.peek().text in ("class", "typename")):
                    self.next()
                pname = (self.next().text
                         if self.peek().kind == "ident" else "")
                dflt = self.parse_type() if self.accept("=") else None
                tparams.append({"kind": "type", "name": pname,
                                "default": dflt, "pi": pi, "pack": False})
            else:
                ptype = self.parse_type()
                if (self.peek().kind == "." and self.peek(1).kind == "."
                        and self.peek(2).kind == "."):
                    # value parameter pack `size_t... _Ind`
                    self.next(); self.next(); self.next()
                nt = self.next() if self.peek().kind == "ident" else None
                # the default is an arbitrary constant expression
                # (`unsigned long M = 0x10ffff`, `bool = (_Nb < X)`,
                # `codecvt_mode _M = (codecvt_mode)0`): consume a
                # balanced token run up to the next `,`/`>` at depth 0
                # and keep the spelling
                dflt = (self._scan_tparam_tokens()
                        if self.accept("=") else None)
                tparams.append({"kind": "value",
                                "name": nt.text if nt else "",
                                "type": ptype, "default": dflt, "pi": pi})
            pi += 1
            if not self.accept(","):
                break
        self.expect(">")
        # the realization sees the type params as type names
        # (`_Mem_fn<_Tp _Class::*>` inside the body must read `_Tp` as a
        # type): an identity typedef scope for the realization's extent
        self._typedefs.append({tp["name"]: tp["name"] for tp in tparams
                               if tp.get("kind") == "type"
                               and tp.get("name")})
        try:
            fid = self.parse_member_or_global(path + ".r", record, parent,
                                              index)
        finally:
            self._typedefs.pop()
        fn_info = self._functions_by_id.get(fid)
        rec_info = None
        if fn_info is None:
            # class template (ClassTemplateDeclaration / ClassTemplateTest):
            # the realization is the record; instances erase the generic
            # args for member lookup (parse_type drops <...>), like the
            # reference's record-level resolution over the template record
            rec_info = next((r for r in self.records.values()
                             if r["decl_id"] == fid), None)
            if rec_info is None:
                # variable template: remember the name so expression-side
                # `name<args>` disambiguates to a template-id (the
                # realization emits as a DeclarationStatement wrapping
                # the VariableDeclaration — take the latest one)
                row = next((n for n in reversed(self.out.nodes)
                            if n["label"] == "VariableDeclaration"
                            and n.get("name")), None)
                if row:
                    self._var_templates.add(row["name"])
                return fid
        else:
            fn_info["is_template_realization"] = True
        name = fn_info["name"] if fn_info else rec_info["name"]
        tid = self.node(path,
                        "FunctionTemplateDeclaration" if fn_info
                        else "ClassTemplateDeclaration",
                        name, self._tloc(t0))
        if record is None:
            self.ast_edge(parent, tid, "DECLARATIONS", index)
        self.edge(tid, "REALIZATION", fid, {"index": 0})
        for tp in tparams:
            if tp["kind"] == "type":
                pid = self.node(f"{path}.tp[{tp['pi']}]",
                                "TypeParamDeclaration", tp["name"], None)
                self.eval_type(pid, tp["name"])
                if tp["default"]:
                    # default is a Type (typeParamDeclaration.getDefault())
                    self.edge(pid, "DEFAULT", self.type_node(tp["default"]))
            else:
                pid = self.node(f"{path}.tp[{tp['pi']}]",
                                "ParamVariableDeclaration", tp["name"], None,
                                argument_index=tp["pi"])
                if tp["type"]:
                    self.eval_type(pid, tp["type"])
                if tp["default"] is not None:
                    lid = self.node(f"{path}.tp[{tp['pi']}].d", "Literal",
                                    tp["default"], None,
                                    props={"value": tp["default"]})
                    self.eval_type(lid, tp["type"] or "int")
                    self.ast_edge(pid, lid, "DEFAULT", 0)
                    # the default literal flows into N
                    # (FunctionTemplateTest:155 N.prevDFG contains int5)
                    self.edge(lid, "DFG", pid)
                    tp["default_lit"] = lid
            tp["decl_id"] = pid
            self.edge(tid, "PARAMETERS", pid, {"index": tp["pi"]})
            self.ast_edge(tid, pid, "PARAMETERS", tp["pi"])
        if record is not None:
            # record.getTemplates() (testFunctionTemplateInMethod)
            self.edge(record["decl_id"], "TEMPLATES", tid)
        if fn_info is not None:
            self._templates.setdefault(
                (record["name"] if record else "", name), []).append(
                {"tid": tid, "params": tparams, "fn": fn_info})
        return tid

    def parse_var_after_type(self, path, tname, record, parent, index):
        """Fields (in record) or globals (module scope), comma-separated."""
        mods = getattr(self, "_cur_mods", [])
        self._cur_mods = []
        ids = []
        vi = 0
        while self.peek().kind == "ident":
            nt = self.next()
            vtype = tname
            # sized-array declarator: `int arr1[20];` has type int[20]
            # (TypedefTest testSingle arr1/arr2 parity)
            while self.peek().kind == "[":
                # dimension = any constant expression (`[20]`, `[ND]`,
                # `[65280 + 2]`) — balanced consume, spelling kept
                self.next()
                parts, d = [], 1
                while self.peek().kind != "eof":
                    k = self.peek().kind
                    if k == "[":
                        d += 1
                    elif k == "]":
                        d -= 1
                        if d == 0:
                            self.next()
                            break
                    parts.append(self.next().text)
                vtype = normalize_type(vtype + f"[{''.join(parts)}]")
            init_id = None
            if self.accept("="):
                init_id, _ = self.parse_expr(f"{path}.init[{vi}]")
            elif self.dialect == "cpp" and self.peek().kind == "{":
                # brace init `V p{1}, q{2};` — InitializerListExpression
                # (same model as the condition-position brace-init arm)
                init_id, _ = self.parse_init_list(f"{path}.binit[{vi}]")
                if (tname in self.records
                        and not self.records[tname].get("is_enum")):
                    self.edge(init_id, "INSTANTIATES",
                              self.records[tname]["decl_id"])
            elif (self.dialect == "cpp" and self.peek().kind == "("
                  and tname in self.records
                  and not self.records[tname].get("is_enum")):
                # C++ direct-initialization ``A a2(5);`` — initializer is
                # a ConstructExpression resolved through the ctor
                # overload ladder (ConstructorsTest)
                cid = self.node(f"{path}.ctor[{vi}]", "ConstructExpression",
                                tname, self._tloc(nt))
                self.eval_type(cid, tname)
                self.edge(cid, "INSTANTIATES",
                          self.records[tname]["decl_id"])
                args = self._parse_args(cid, f"{path}.ctor[{vi}]")
                self._resolve_ctor(cid, tname, args)
                init_id = cid
            elif (self.dialect == "cpp" and tname in self.records
                  and not self.records[tname].get("is_enum")
                  and self.peek().kind in (";", ",")):
                # C++ stack default-construction ``A a1;`` — the reference
                # attaches an implicit no-arg ConstructExpression
                cid = self.node(f"{path}.ctor[{vi}]", "ConstructExpression",
                                tname, self._tloc(nt), is_implicit=True)
                self.eval_type(cid, tname)
                self.edge(cid, "INSTANTIATES",
                          self.records[tname]["decl_id"])
                self._resolve_ctor(cid, tname, [])
                init_id = cid
            if record is not None and not self.in_function():
                fid = self.node(f"{path}.f[{vi}]", "FieldDeclaration",
                                nt.text, self._tloc(nt),
                                props={"modifiers": " ".join(mods)}
                                if mods else None)
                self.eval_type(fid, vtype)
                if "static" in mods:
                    record.setdefault("field_statics", set()).add(nt.text)
                if init_id:
                    self.ast_edge(fid, init_id, "INITIALIZER", 0)
                    self.edge(init_id, "DFG", fid)  # FieldDeclaration.java:100
                self.edge(record["decl_id"], "FIELDS", fid,
                          {"index": len(record["fields"])})
                self.ast_edge(record["decl_id"], fid, "FIELDS",
                              len(record["fields"]))
                record["fields"][nt.text] = fid
                record.setdefault("field_types", {})[nt.text] = vtype
                self.scopes[-1].decls[nt.text] = {
                    "decl_id": fid, "kind": "field", "type": vtype}
                ids.append(fid)
            else:
                vid = self.node(f"{path}.v[{vi}]", "VariableDeclaration",
                                nt.text, self._tloc(nt))
                self.eval_type(vid, vtype)
                if init_id:
                    self.ast_edge(vid, init_id, "INITIALIZER", 0)
                    self.edge(init_id, "DFG", vid)  # VariableDeclaration.java:118
                elif self.dialect == "java" and self.in_function():
                    # Java locals without an initializer carry an implicit
                    # UninitializedValue initializer
                    # (java/ExpressionHandler.java:258-261); AST edge only
                    # — the reference attaches no value, so no DFG
                    uv = self.node(f"{path}.v[{vi}].uninit",
                                   "UninitializedValue", "",
                                   self._tloc(nt), is_implicit=True,
                                   code="")
                    self.ast_edge(vid, uv, "INITIALIZER", 0)
                self.declare(nt.text, vid, "var", vtype)
                ids.append(vid)
            vi += 1
            if not self.accept(","):
                break
        self.accept(";")
        if not ids:
            return None
        ds = self.node(path, "DeclarationStatement", "", None, code="")
        for j, nid in enumerate(ids):
            self.ast_edge(ds, nid, "DECLARATIONS", j)
        if record is None or self.in_function():
            self.ast_edge(parent, ds, "DECLARATIONS" if not self.in_function()
                          else "STATEMENTS", index)
        return ds

    # ------------------------------------------------------------ typedefs
    def _stmt_has_typedef(self) -> bool:
        """``typedef`` is legal anywhere in the decl-specifier-seq
        (TypedefTest testArbitraryTypedefLocation: ``unsigned long typedef
        long int ullong;``) — scan this statement's specifier tokens."""
        j = self.i
        while j < len(self.toks):
            t = self.toks[j]
            if t.kind in (";", "{", "}", "eof", "(", "="):
                return False
            if t.kind == "ident" and t.text == "typedef":
                return True
            j += 1
        return False

    def parse_typedef(self, path: str, parent: str, index: int):
        """``typedef`` declaration (reference TypedefDeclaration +
        ScopeManager typedef table; TypedefTest over typedefs.cpp):
        registers alias -> fully-resolved target type in the current
        typedef scope — chains resolve at registration so every later
        spelled use expands in one lookup — and emits a TypedefDeclaration
        node plus a Type->Type alias SUPER_TYPE edge feeding the
        canonicalization CC (SURVEY A1).  Handles pointer / sized-array /
        function-pointer declarators, declarator lists, and the anonymous
        ``typedef struct {...} S, *pS;`` idiom."""
        # splice out the typedef token(s) wherever they sit in the
        # specifier sequence, then parse a normal declaration shape
        j = self.i
        while j < len(self.toks) and self.toks[j].kind not in (";", "{",
                                                               "eof"):
            if (self.toks[j].kind == "ident"
                    and self.toks[j].text == "typedef"):
                del self.toks[j]
                continue
            j += 1
        if (self.peek().kind == "ident"
                and self.peek().text in ("struct", "class")
                and self.peek(1).kind == "{"):
            # anonymous record: name it after the first plain declarator
            k = self.i + 1
            depth = 0
            while k < len(self.toks):
                kk = self.toks[k].kind
                if kk == "{":
                    depth += 1
                elif kk == "}":
                    depth -= 1
                    if depth == 0:
                        k += 1
                        break
                k += 1
            while k < len(self.toks) and self.toks[k].kind == "*":
                k += 1
            anon = self.toks[k].text if (k < len(self.toks) and
                                         self.toks[k].kind == "ident") \
                else "anonymous"
            rid = self.parse_class(path + ".rec", anon_name=anon)
            if rid is not None:
                self.ast_edge(parent, rid, "DECLARATIONS", index)
            base = anon
        elif (self.peek().kind == "ident"
              and self.peek().text in ("struct", "class")
              and self.peek(1).kind == "ident"
              and self.peek(2).kind == "{"):
            # NAMED record with body: `typedef struct S { ... } s_t;` —
            # parse the record, then alias declarators against its name
            base = self.peek(1).text
            rid = self.parse_class(path + ".rec")
            if rid is not None:
                self.ast_edge(parent, rid, "DECLARATIONS", index)
        elif (self.peek().kind == "ident"
              and self.peek().text in ("struct", "class")
              and self.peek(1).kind == "ident"):
            # elaborated type specifier without body:
            # `typedef struct S s_t;`
            self.next()
            base = self.parse_type()
        else:
            base = self.parse_type()
        if base is None:
            while self.peek().kind not in (";", "eof"):
                self.next()
            self.accept(";")
            return None
        last = None
        ti = 0
        while True:
            ptr = ""
            while self.peek().kind == "*":
                self.next()
                ptr += "*"
            alias_t = None
            target = None
            if self.peek().kind == "(" and self.peek(1).kind == "*":
                # function-pointer alias: base (*name)(params)
                self.next()
                self.next()
                if self.peek().kind == "ident":
                    alias_t = self.next()
                self.accept(")")
                params = []
                if self.accept("("):
                    while self.peek().kind not in (")", "eof"):
                        pt = self.parse_type()
                        if pt is None:
                            self.next()
                            continue
                        params.append(pt)
                        if self.peek().kind == "ident":
                            self.next()  # optional param name
                        if not self.accept(","):
                            break
                    self.accept(")")
                target = normalize_type(
                    f"{base}(*)({', '.join(params)})")
            elif self.peek().kind == "ident":
                alias_t = self.next()
                arr = ""
                while self.peek().kind == "[":
                    self.next()
                    n = ""
                    if self.peek().kind == "int":
                        n = self.next().text
                    self.accept("]")
                    arr += f"[{n}]"
                target = normalize_type(base + ptr + arr)
            if alias_t is None:
                break
            alias = alias_t.text
            self._typedefs[-1][alias] = target
            tid = self.node(f"{path}.td[{ti}]", "TypedefDeclaration", alias,
                            self._tloc(alias_t), props={"type": target})
            self.ast_edge(parent, tid, "DECLARATIONS", index)
            self.edge(tid, "EVAL_TYPE", self.type_node(target))
            # alias spelling's Type node -> target Type node: the A1
            # alias-CC input (Go `type A = B` emits the same shape)
            self.edge(self.type_node(alias), "SUPER_TYPE",
                      self.type_node(target))
            last = tid
            ti += 1
            if not self.accept(","):
                break
        self.accept(";")
        return last

    # -------------------------------------------------------------- blocks
    def parse_block(self, path: str, parent: str, field: str) -> list[dict]:
        self.expect("{")
        self._typedefs.append({})  # block-local typedef scope
        cid = self.node(path, "CompoundStatement", "", None, code="")
        self.ast_edge(parent, cid, field, 0)
        # each `{}` opens a BlockScope (ScopeManager.enterScope on
        # CompoundStatement) so same-named locals in sibling/nested blocks
        # shadow correctly instead of clobbering one function-wide dict
        self.enter_scope("block", "", cid)
        infos = []
        si = 0
        while self.peek().kind not in ("}", "eof"):
            got = self.parse_stmt(f"{path}[{si}]", cid, si)
            if got:
                infos.append(got[1])
            si += 1
        self.expect("}")
        self.leave_scope()
        self._typedefs.pop()
        return [{"kind": "compound", "nid": cid, "stmts": infos}]

    # ---------------------------------------------------------- statements
    def parse_stmt(self, path: str, parent: str, index: int):
        t = self.peek()
        while t.kind == "preproc":
            # a directive inside a function body (`#define INC 10` in
            # main) — already consumed by the symbol/conditional passes
            # where it matters; no statement weight
            self.next()
            t = self.peek()
        if t.kind == "annotation":
            # annotated local declaration (`@SuppressWarnings(...) int x;`)
            self._collect_annotations()
            t = self.peek()
        if t.kind == ";":
            self.next()
            nid = self.node(path, "EmptyStatement", "", self._tloc(t))
            self.ast_edge(parent, nid, "STATEMENTS", index)
            return nid, {"kind": "plain", "nid": nid}
        if t.kind == "{":
            infos = self.parse_block(path, parent, "STATEMENTS")
            return infos[0]["nid"], infos[0]
        if t.kind == "ident":
            kw = t.text
            if (self.dialect == "cpp"
                    and kw in ("asm", "__asm__", "__asm")):
                # inline assembly `asm("..." : ...);` ->
                # ASMDeclarationStatement carrying the asm text
                # (graph/statements/ASMDeclarationStatement.java)
                self.next()
                while (self.peek().kind == "ident"
                       and self.peek().text in ("volatile", "__volatile__",
                                                "goto", "inline")):
                    self.next()
                code = ""
                if self.peek().kind == "(":
                    j, depth = self.i, 0
                    frag = []
                    while self.toks[j].kind != "eof":
                        k = self.toks[j].kind
                        if k == "(":
                            depth += 1
                        elif k == ")":
                            depth -= 1
                            if depth == 0:
                                break
                        elif k == "string":
                            frag.append(self.toks[j].text.strip('"'))
                        j += 1
                    code = "".join(frag)
                    self._skip_balanced("(", ")")
                self.accept(";")
                nid = self.node(path, "ASMDeclarationStatement", "",
                                self._tloc(t), code=code)
                self.ast_edge(parent, nid, "STATEMENTS", index)
                return nid, {"kind": "plain", "nid": nid}
            if (self.dialect == "cpp" and kw in ("class", "struct")
                    and self.peek(1).kind == "ident"
                    and self.peek(2).kind == "{"):
                # local record declaration `class A { ... } [myA];`
                # (declstmt.cpp) — the record parses like any other; an
                # optional trailing declarator declares a local of that
                # type, wrapped in a DeclarationStatement
                rid = self.parse_class(path + ".rec")
                ds = self.node(path, "DeclarationStatement", "", None,
                               code="")
                if rid:
                    self.ast_edge(ds, rid, "DECLARATIONS", 0)
                rec_name = next((r["name"] for r in self.out.nodes
                                 if r["node_id"] == rid), "")
                di2 = 1
                while self.peek().kind == "ident":
                    vt = self.next()
                    vid = self.node(f"{path}.v[{di2}]",
                                    "VariableDeclaration", vt.text,
                                    self._tloc(vt))
                    if rec_name:
                        self.eval_type(vid, rec_name)
                    self.declare(vt.text, vid, "var", rec_name or None)
                    self.ast_edge(ds, vid, "DECLARATIONS", di2)
                    di2 += 1
                    if not self.accept(","):
                        break
                self.accept(";")
                self.ast_edge(parent, ds, "STATEMENTS", index)
                return ds, {"kind": "plain", "nid": ds}
            if kw == "if":
                return self._attach(self.parse_if(path), parent, index)
            if kw == "while":
                return self._attach(self.parse_while(path), parent, index)
            if kw == "do":
                return self._attach(self.parse_do(path), parent, index)
            if kw == "for":
                return self._attach(self.parse_for(path), parent, index)
            if kw == "switch":
                return self._attach(self.parse_switch(path), parent, index)
            if kw == "return":
                return self._attach(self.parse_return(path), parent, index)
            if (kw == "yield" and self.dialect == "java"
                    and self._switch_exprs
                    and self.peek(1).kind not in ("=", ";", ".", "(")):
                # switch-expression arm value (JLS 14.21) — only a
                # contextual keyword inside an enclosing switch
                # expression; `yield` the variable keeps parsing as a ref
                t0 = self.next()
                nid = self.node(path, "YieldStatement", "",
                                self._tloc(t0))
                vid, _ = self.parse_expr(path + ".v")
                self.ast_edge(nid, vid, "RETURN_VALUE", 0)
                self.edge(vid, "DFG", nid)
                self.edge(vid, "DFG", self._switch_exprs[-1])
                self.accept(";")
                return self._attach(
                    (nid, {"kind": "plain", "nid": nid}), parent, index)
            if kw == "break":
                self.next()
                lbl = None
                if self.peek().kind == "ident":  # java labeled break
                    lbl = self.next().text
                self.accept(";")
                nid = self.node(path, "BreakStatement", lbl or "",
                                self._tloc(t))
                return self._attach((nid, {"kind": "break", "nid": nid,
                                           "label": lbl}), parent, index)
            if kw == "continue":
                self.next()
                lbl = None
                if self.peek().kind == "ident":  # java labeled continue
                    lbl = self.next().text
                self.accept(";")
                nid = self.node(path, "ContinueStatement", lbl or "",
                                self._tloc(t))
                return self._attach((nid, {"kind": "continue", "nid": nid,
                                           "label": lbl}), parent, index)
            if self.dialect == "java" and kw == "assert":
                # `assert cond [: msg];` -> AssertStatement with CONDITION
                # and MESSAGE children (statements/AssertStatement.java)
                self.next()
                nid = self.node(path, "AssertStatement", "", self._tloc(t))
                cond, _ = self.parse_expr(path + ".c")
                self.ast_edge(nid, cond, "CONDITION", 0)
                if self.accept(":"):
                    msg, _ = self.parse_expr(path + ".msg")
                    self.ast_edge(nid, msg, "MESSAGE", 0)
                self.accept(";")
                self.ast_edge(parent, nid, "STATEMENTS", index)
                return nid, {"kind": "plain", "nid": nid}
            if (self.dialect == "java" and kw == "synchronized"
                    and self.peek(1).kind == "("):
                # `synchronized (expr) { ... }` -> SynchronizedStatement
                # with EXPRESSION + BLOCK_STATEMENT
                # (statements/SynchronizedStatement.java)
                self.next()
                self.expect("(")
                lock, _ = self.parse_expr(path + ".e")
                self.expect(")")
                nid = self.node(path, "SynchronizedStatement", "",
                                self._tloc(t))
                self.ast_edge(nid, lock, "EXPRESSION", 0)
                self.ast_edge(parent, nid, "STATEMENTS", index)
                self.parse_block(path + ".b", nid, "BLOCK_STATEMENT")
                return nid, {"kind": "plain", "nid": nid}
            if (self.dialect == "java" and kw in ("this", "super")
                    and self.peek(1).kind == "("):
                # ctor chaining `this(...)` / `super(...)` ->
                # ExplicitConstructorInvocation (a CallExpression subclass
                # carrying containingClass,
                # expressions/ExplicitConstructorInvocation.java; fixture
                # components/ExplicitConstructorInvocationStmt.java);
                # resolves through the ctor overload ladder when the
                # target record is in-document
                self.next()
                rec = self.current_record()
                owner = rec.name if rec else ""
                if kw == "super" and owner:
                    recd = self.records.get(owner)
                    sups = recd.get("supers") if recd else None
                    owner = sups[0] if sups else ""
                nid = self.node(
                    path, "ExplicitConstructorInvocation", kw, self._tloc(t),
                    props={"containingClass": owner} if owner else None)
                args = self._parse_args(nid, path)
                self.accept(";")
                self.ast_edge(parent, nid, "STATEMENTS", index)
                if owner:
                    self._resolve_ctor(nid, owner, args)
                return nid, {"kind": "plain", "nid": nid}
            if self.dialect == "cpp" and kw == "delete":
                # `delete p;` / `delete[] p;` -> DeleteExpression with
                # OPERAND (expressions/DeleteExpression.java)
                self.next()
                is_arr = False
                if self.peek().kind == "[":
                    self.next()
                    self.accept("]")
                    is_arr = True
                nid = self.node(path, "DeleteExpression", "", self._tloc(t),
                                props={"array": "true"} if is_arr else None)
                op, _ = self.parse_expr(path + ".op")
                self.ast_edge(nid, op, "OPERAND", 0)
                self.accept(";")
                self.ast_edge(parent, nid, "STATEMENTS", index)
                return nid, {"kind": "plain", "nid": nid}
            if kw == "enum" and (
                    self.peek(1).kind == "{"
                    or (self.peek(1).kind == "ident"
                        and self.peek(1).text in ("class", "struct")
                        and self.peek(2).kind == "ident")
                    or (self.peek(1).kind == "ident"
                        and self.peek(2).kind in ("{", ":"))):
                # block-local enum DEFINITION (an elaborated declaration
                # like `enum Color c;` instead falls through to the typed
                # local-declaration probe below)
                nid = self.parse_enum(path + ".en", parent, index)
                if nid is None:
                    nid = self.node(path, "EmptyStatement", "",
                                    self._tloc(t))
                    self.ast_edge(parent, nid, "STATEMENTS", index)
                return nid, {"kind": "plain", "nid": nid}
            if kw == "typedef" and self.dialect == "cpp":
                # function-local typedef scopes to the enclosing block
                # (TypedefTest testMemberTypeDef: main's `typedef char
                # *type` shadows the file-level one)
                nid = self.parse_typedef(path + ".td", parent, index)
                if nid is None:
                    return None
                return nid, {"kind": "plain", "nid": nid}
            if self.peek(1).kind == ":" and kw not in _KEYWORDS:
                # `lab1: stmt` — LabelStatement wrapping the labeled
                # statement (graph/statements/LabelStatement; the loop the
                # label names becomes the target of `break lab1` /
                # `continue lab1`)
                self.next()
                self.next()  # ':'
                nid = self.node(path, "LabelStatement", kw, self._tloc(t))
                self.ast_edge(parent, nid, "STATEMENTS", index)
                sub_id, sub_info = self.parse_stmt(path + ".sub", nid, 0)
                return nid, {"kind": "label", "nid": nid, "name": kw,
                             "sub": sub_info}
            if kw == "goto" and self.peek(1).kind == "ident":
                # GotoStatement: EOG jumps to the LabelStatement (forward
                # or backward — resolved at build_eog time like the
                # reference's label object listener,
                # EvaluationOrderGraphPass.java:754-762)
                g_t = self.next()
                lab = self.next().text
                self.accept(";")
                nid = self.node(path, "GotoStatement", lab, self._tloc(g_t))
                self.ast_edge(parent, nid, "STATEMENTS", index)
                return nid, {"kind": "goto", "nid": nid, "name": lab}
            if kw == "try" and self.peek(1).kind == "{":
                return self._attach(self.parse_try(path), parent, index)
            if kw == "throw":
                # `throw expr;` — UnaryOperator "throw" (the reference's
                # CXX/Java handlers build a UnaryOperator with the thrown
                # expression as input); EOG clears after it
                self.next()
                nid = self.node(path, "UnaryOperator", "throw",
                                self._tloc(t), code="throw")
                if self.peek().kind not in (";", "eof"):
                    eid, _ = self.parse_expr(path + ".e")
                    self.ast_edge(nid, eid, "INPUT", 0)
                    self.edge(eid, "DFG", nid)
                self.accept(";")
                self.ast_edge(parent, nid, "STATEMENTS", index)
                return nid, {"kind": "throw", "nid": nid}
            if kw in ("goto", "try"):
                # gap statements (reference logs NOT_IMPLEMENTED analogues)
                while self.peek().kind not in (";", "{", "eof"):
                    self.next()
                if self.peek().kind == "{":
                    self._skip_balanced("{", "}")
                    while self.peek().kind == "ident" and self.peek().text in (
                            "catch", "finally"):
                        while self.peek().kind not in ("{", "eof"):
                            self.next()
                        self._skip_balanced("{", "}")
                self.accept(";")
                nid = self.node(path, "Statement", "", self._tloc(t), code=kw)
                return self._attach((nid, {"kind": "plain", "nid": nid}),
                                    parent, index)
        # typed local declaration?
        save = self.i
        self._skip_modifiers()
        elaborated = False
        if (self.dialect == "cpp" and self.peek().kind == "ident"
                and self.peek().text in ("struct", "class", "union", "enum")
                and self.peek(1).kind == "ident"
                and self.peek(2).kind == "ident"):
            elaborated = True
            # elaborated type specifier in a local declaration:
            # `struct Point p1 = {...};` (designatedInitializer.c)
            self.next()
        # leading cv-qualifiers (`const std::type_info& x = ...`) — the
        # decl-vs-expr probe must look past them like parse_type does
        qk = 0
        while (self.peek(qk).kind == "ident"
               and self.peek(qk).text in ("const", "unsigned", "signed",
                                          "volatile")):
            qk += 1
        if elaborated or self._looks_like_type(qk) or (
                qk and self.peek(qk - 1).text in ("unsigned", "signed")) or (
                self.peek(qk).kind == "ident"
                and self.peek(qk).text not in _KEYWORDS
                and self.peek(qk + 1).kind == "::") or (
                self.dialect == "cpp" and self._ptr_decl_ahead(qk)):
            tname = self.parse_type()
            if (tname is not None and self.dialect == "cpp"
                    and self._fnptr_decl_ahead()):
                # local function-pointer variable, optional initializer
                ds = self._parse_fnptr_var(path, tname, parent, index)
                return ds, {"kind": "plain", "nid": ds}
            if tname is not None and self.peek().kind == "ident" and \
                    (self.peek(1).kind in ("=", ";", ",")
                     or (self.dialect == "cpp"
                         and self.peek(1).kind == "{")
                     or (self.peek(1).kind == "["
                         and (self.peek(2).kind in ("int", "]")
                              or (self.peek(2).kind == "ident"
                                  and self.peek(3).kind == "]")))
                     or (self.peek(1).kind == "("
                         and tname in self.records)):
                # parse_var_after_type attaches the DeclarationStatement
                # to parent itself (record=None -> always); adding a
                # second STATEMENTS edge here duplicated the AST row
                got = self.parse_var_after_type(path, tname, None, parent,
                                                index)
                nid = got[0] if isinstance(got, tuple) else got
                return nid, {"kind": "plain", "nid": nid}
            self.i = save
        else:
            self.i = save
        # expression statement (possibly a comma sequence -> ExpressionList)
        nid, _ = self._parse_expr_list(path)
        self.accept(";")
        self.ast_edge(parent, nid, "STATEMENTS", index)
        return nid, {"kind": "plain", "nid": nid}

    def _attach(self, pair, parent, index):
        nid, info = pair
        self.ast_edge(parent, nid, "STATEMENTS", index)
        return nid, info

    def parse_return(self, path: str):
        t = self.next()
        nid = self.node(path, "ReturnStatement", "", self._tloc(t))
        if self.peek().kind not in (";", "}", "eof"):
            vid, _ = self.parse_expr(path + ".v")
            self.ast_edge(nid, vid, "RETURN_VALUE", 0)
            self.edge(vid, "DFG", nid)  # ReturnStatement.java:53
            fn = self.current_function()
            if fn is not None and fn.node_id:
                self.edge(vid, "DFG", fn.node_id)
        self.accept(";")
        return nid, {"kind": "return", "nid": nid}

    def _knr_header_ahead(self) -> bool:
        """At the first token after a function header's '(': bare comma-
        separated identifiers up to ')' followed by a K&R declaration
        block (`type name;` before '{')."""
        j = self.i
        while self.toks[j].kind in ("ident", ","):
            if self.toks[j + 1].kind == self.toks[j].kind:
                # `(int rc) const;` — two adjacent identifiers make a
                # typed parameter, never a K&R name list
                return False
            j += 1
        if self.toks[j].kind != ")" or j == self.i:
            return False
        j += 1
        k = j
        while self.toks[k].kind in ("ident", "*", ",", "[", "]", "int"):
            k += 1
        return k > j and self.toks[k].kind == ";"

    def _knr_decl_ahead(self) -> bool:
        """Between a function header and its body: type tokens then
        declarators then ';' — only idents/*/,/[]/ints may appear, and a
        ';' must arrive before any brace (K&R parameter declaration)."""
        j = self.i
        while self.toks[j].kind in ("ident", "*", ",", "[", "]", "int"):
            j += 1
        return self.toks[j].kind == ";"

    def _ptr_decl_ahead(self, qk: int = 0) -> bool:
        """``unknownType * name =`` — the classic C typedef ambiguity
        (`sb_symbol * b = ...` with the typedef in an unresolved
        header): when the left identifier does not resolve to a VALUE,
        it cannot be multiplied, so the statement is a declaration."""
        t = self.peek(qk)
        if t.kind != "ident" or t.text in _KEYWORDS:
            return False
        if self.resolve(t.text):
            return False
        j = qk + 1
        if self.peek(j).kind != "*":
            return False
        while self.peek(j).kind == "*":
            j += 1
        return (self.peek(j).kind == "ident"
                and self.peek(j).text not in _KEYWORDS
                and self.peek(j + 1).kind in ("=", ";", ","))

    def _paren_has_semi(self) -> bool:
        """';' at depth 1 before the closing ')' — C++17 if-initializer."""
        j, depth = self.i, 0
        while self.toks[j].kind != "eof":
            k = self.toks[j].kind
            if k == "(":
                depth += 1
            elif k == ")":
                depth -= 1
                if depth == 0:
                    return False
            elif k == ";" and depth == 1:
                return True
            j += 1
        return False

    def _parse_condition(self, path: str):
        """Condition-position declarations (C++): ``if (int k = e)`` /
        ``while (T v = f())`` / for-condition ``bool b = true`` declare
        the variable into the surrounding statement scope; the condition
        value is the declared variable (CDT models the condition as an
        IASTDeclaration alternative — cfg/{ifextra,forloop}.cpp hit
        this).  Falls through to a plain expression otherwise."""
        if self.dialect == "cpp" and (
                self._looks_like_type()
                or (self.peek().kind == "ident"
                    and self.peek().text not in _KEYWORDS
                    and (self.peek(1).kind == "<"
                         or (self.peek(1).kind == "ident"
                             and self.peek(2).kind in ("=", "{"))))):
            # the second arm catches dependent types the name-based
            # heuristic misses (`if (_Tp __a = ...)`) — two adjacent
            # identifiers before `=` cannot be an expression
            save = self.i
            tname = self.parse_type()
            if (tname is not None and self.peek().kind == "ident"
                    and self.peek(1).kind in ("=", "{")):
                vt = self.next()
                brace = self.peek().kind == "{"
                if not brace:
                    self.next()
                vid = self.node(path + ".cdecl", "VariableDeclaration",
                                vt.text, self._tloc(vt))
                self.eval_type(vid, tname)
                self.declare(vt.text, vid, "var", tname)
                if brace:
                    # `if (unique_lock<L> lock{l, t})` — brace-init
                    iid, _ = self.parse_init_list(path + ".cinit")
                else:
                    iid, _ = self.parse_expr(path + ".cinit")
                self.ast_edge(vid, iid, "INITIALIZER", 0)
                self.edge(iid, "DFG", vid)  # VariableDeclaration.java:118
                return vid, {"kind": "conddecl", "name": vt.text,
                             "type": tname}
            self.i = save
        got = self.parse_expr(path)
        if self.peek().kind == ",":
            # comma condition `while (argv++, --argc)` — an
            # ExpressionList whose value is the LAST element's
            # (ExpressionList.java:65-80)
            lid = self.node(path + ".list", "ExpressionList", "", None)
            self.ast_edge(lid, got[0], "SUBEXPR", 0)
            li = 1
            last = got
            while self.accept(","):
                last = self.parse_expr(f"{path}.list[{li}]")
                self.ast_edge(lid, last[0], "SUBEXPR", li)
                li += 1
            self.edge(last[0], "DFG", lid)
            return lid, {"kind": "exprlist", "name": "",
                         "type": (last[1] or {}).get("type")}
        return got

    def parse_if(self, path: str):
        t = self.next()
        nid = self.node(path, "IfStatement", "", self._tloc(t))
        if (self.peek().kind == "ident" and self.peek(1).kind == "("
                and self.peek().text not in _KEYWORDS):
            # C++17 `if constexpr (...)` — and its macro spellings like
            # glibc's `if _GLIBCXX17_CONSTEXPR (...)`.  CDT surfaces
            # both as a plain IfStatement; both branches stay in the
            # graph (constant pruning is the UnreachableEOGPass's job,
            # not the parser's).  Any identifier directly between `if`
            # and `(` cannot be part of the condition in C/C++/Java.
            kwtok = self.next()
            if "constexpr" in kwtok.text.lower():
                self.out.nodes[-1]["props"]["constexpr"] = "true"
        has_init = self._paren_has_semi()
        self.expect("(")
        if has_init:
            # C++17 `if (init; cond)` — the init declares into a scope
            # that spans condition + both branches but NOT the code after
            # the if (IfStatement owns a scope in the reference)
            self.enter_scope("block", "", nid)
            self.parse_stmt(path + ".init", nid, 0)
            self.accept(";")
        cid, _ = self._parse_condition(path + ".c")
        self.expect(")")
        self.ast_edge(nid, cid, "CONDITION", 0)
        then_infos = self._branch(path + ".then", nid, "THEN_STATEMENT")
        info = {"kind": "if", "nid": nid, "cond": cid, "then": then_infos,
                "orelse": None}
        if self.peek().kind == "ident" and self.peek().text == "else":
            self.next()
            if self.peek().kind == "ident" and self.peek().text == "if":
                enid, einfo = self.parse_if(path + ".elif")
                self.ast_edge(nid, enid, "ELSE_STATEMENT", 0)
                info["orelse"] = [einfo]
            else:
                info["orelse"] = self._branch(path + ".else", nid,
                                              "ELSE_STATEMENT")
        if has_init:
            self.leave_scope()
        return nid, info

    def _branch(self, path, parent, field):
        if self.peek().kind == "{":
            return self.parse_block(path, parent, field)
        got = self.parse_stmt(path, parent, 0)
        return [got[1]]

    def parse_try(self, path: str):
        """TryStatement with CatchClauses (+ Java finally).

        Mirrors the reference's StatementHandler.handleTryStatement
        (cpp) / StatementAnalyzer.handleTryStatement (java): the try body
        is a CompoundStatement, each catch owns a scope holding its
        exception parameter (VariableResolverCppTest
        testVarNameCoughtAsException binds the catch-local, not an outer
        same-named declaration)."""
        t = self.next()  # 'try'
        nid = self.node(path, "TryStatement", "", self._tloc(t))
        body = self.parse_block(path + ".body", nid, "TRY_BLOCK")
        catches = []
        final = None
        ci = 0
        while self.peek().kind == "ident" and self.peek().text in (
                "catch", "finally"):
            kw2 = self.next().text
            if kw2 == "finally":
                final = self.parse_block(f"{path}.fin", nid, "FINALLY_BLOCK")
                break
            cnid = self.node(f"{path}.cat[{ci}]", "CatchClause", "",
                             self._tloc(t))
            self.ast_edge(nid, cnid, "CATCH_CLAUSES", ci)
            self.enter_scope("block", "", cnid)
            self.expect("(")
            # parameter: `Type name`, `const Type& name`, `A | B name`
            # (java multi-catch) or `...` (c++ catch-all)
            ptype = None
            ptok = None
            prev_i = -1
            while self.peek().kind not in (")", "eof"):
                if self.i == prev_i:  # progress guard
                    self.next()
                    continue
                prev_i = self.i
                save = self.i
                self._skip_modifiers()
                if ptype is None and self._looks_like_type():
                    got = self.parse_type()
                    if got:
                        ptype = got
                        continue
                    self.i = save
                tk = self.next()
                if tk.kind == "|":  # java multi-catch: keep first type
                    prev_i = -1
                    continue
                if tk.kind == "ident" and tk.text not in _KEYWORDS:
                    ptok = tk  # last ident before ')' is the name
            self.expect(")")
            if ptok is not None:
                pname = ptok.text
                pid = self.node(f"{path}.cat[{ci}].p",
                                "VariableDeclaration", pname,
                                self._tloc(ptok))
                if ptype:
                    self.eval_type(pid, ptype)
                self.ast_edge(cnid, pid, "PARAMETER", 0)
                self.declare(pname, pid, "var", ptype)
            cstmts = self.parse_block(f"{path}.cat[{ci}].b", cnid, "BODY")
            self.leave_scope()
            catches.append({"nid": cnid, "stmts": cstmts})
            ci += 1
        return nid, {"kind": "try", "nid": nid, "body": body,
                     "catches": catches, "final": final}

    def parse_while(self, path: str):
        t = self.next()
        nid = self.node(path, "WhileStatement", "", self._tloc(t))
        self.expect("(")
        cid, _ = self._parse_condition(path + ".c")
        self.expect(")")
        self.ast_edge(nid, cid, "CONDITION", 0)
        body = self._branch(path + ".body", nid, "STATEMENT")
        return nid, {"kind": "while", "nid": nid, "cond": cid, "body": body}

    def parse_do(self, path: str):
        t = self.next()
        nid = self.node(path, "DoStatement", "", self._tloc(t))
        body = self._branch(path + ".body", nid, "STATEMENT")
        cid = None
        if self.peek().kind == "ident" and self.peek().text == "while":
            self.next()
            self.expect("(")
            cid, _ = self._parse_condition(path + ".c")
            self.expect(")")
            self.accept(";")
            self.ast_edge(nid, cid, "CONDITION", 0)
        # body-first loop: executes at least once before the condition
        # (EvaluationOrderGraphPass.java handleDoStatement)
        return nid, {"kind": "dowhile", "nid": nid, "cond": cid or nid,
                     "body": body}

    def parse_for(self, path: str):
        t = self.next()
        self.expect("(")
        # the for clause opens its own scope: init declarations are
        # visible in cond/post/body but not after the loop
        self.enter_scope("block", "", None)
        try:
            return self._parse_for_inner(path, t)
        finally:
            self.leave_scope()

    def _parse_for_inner(self, path: str, t):
        # java foreach: for (T x : xs)
        save = self.i
        self._skip_modifiers()
        tname = self.parse_type() if self._looks_like_type() else None
        if tname is not None and self.peek().kind == "ident" and \
                self.peek(1).kind == ":":
            nid = self.node(path, "ForEachStatement", "", self._tloc(t))
            vt = self.next()
            vid = self.node(path + ".var", "VariableDeclaration", vt.text,
                            self._tloc(vt))
            self.eval_type(vid, tname)
            self.declare(vt.text, vid, "var", tname)
            self.ast_edge(nid, vid, "VARIABLE", 0)
            self.next()  # ':'
            iid, _ = self.parse_expr(path + ".iter")
            self.ast_edge(nid, iid, "ITERABLE", 0)
            self.edge(iid, "DFG", vid)
            self.expect(")")
            body = self._branch(path + ".body", nid, "STATEMENT")
            return nid, {"kind": "foreach", "nid": nid, "body": body}
        self.i = save
        nid = self.node(path, "ForStatement", "", self._tloc(t))
        init_info = cond_id = post_info = None
        if self.peek().kind != ";":
            got = self.parse_stmt(path + ".init", nid, 0)
            init_info = got[1]
        else:
            self.next()
        if self.peek().kind != ";":
            cond_id, _ = self._parse_condition(path + ".c")
            self.ast_edge(nid, cond_id, "CONDITION", 0)
        self.accept(";")
        if self.peek().kind != ")":
            pid, _ = self._parse_expr_list(path + ".post")
            self.ast_edge(nid, pid, "ITERATION_STATEMENT", 0)
            post_info = {"kind": "plain", "nid": pid}
        self.expect(")")
        body = self._branch(path + ".body", nid, "STATEMENT")
        return nid, {"kind": "for", "nid": nid, "init": init_info,
                     "cond": cond_id, "post": post_info, "body": body}

    def _parse_expr_list(self, path: str):
        """Comma (sequence) expression -> ExpressionList with ordered
        EXPRESSIONS children (statements/expressions/ExpressionList.java;
        CDT handleExpressionList, cpp/ExpressionHandler.kt:604-610):
        ``i++, j++`` in a for clause or an expression statement.  The
        list's value is the LAST expression's (DFG last -> list).  A
        single expression passes through unchanged."""
        eid, meta = self.parse_expr(path)
        if self.peek().kind != ",":
            return eid, meta
        t0 = self.peek()
        el = self.node(path + ".el", "ExpressionList", "", self._tloc(t0))
        self.ast_edge(el, eid, "EXPRESSIONS", 0)
        idx = 1
        last = eid
        while self.accept(","):
            last, _ = self.parse_expr(f"{path}.x[{idx}]")
            self.ast_edge(el, last, "EXPRESSIONS", idx)
            idx += 1
        self.edge(last, "DFG", el)
        return el, {"kind": "exprlist", "name": "", "type": None}

    def parse_switch(self, path: str):
        t = self.next()
        nid = self.node(path, "SwitchStatement", "", self._tloc(t))
        self.expect("(")
        sel, _ = self.parse_expr(path + ".sel")
        self.expect(")")
        self.ast_edge(nid, sel, "SELECTOR", 0)
        self.expect("{")
        cases = []
        ci = 0
        pending_label = None  # C allows `lab: case 0:` (cfg/goto.cpp func)
        while self.peek().kind not in ("}", "eof"):
            tt = self.peek()
            if (tt.kind == "ident" and self.peek(1).kind == ":"
                    and tt.text not in ("case", "default")):
                # label wrapping the next case — goto target inside the
                # switch body
                self.next()
                self.next()
                lnid = self.node(f"{path}.lab[{ci}]", "LabelStatement",
                                 tt.text, self._tloc(tt))
                self.ast_edge(nid, lnid, "STATEMENTS", ci)
                pending_label = (tt.text, lnid)
                ci += 1
                continue
            if tt.kind == "ident" and tt.text == "case":
                self.next()
                cnid = self.node(f"{path}.case[{ci}]", "CaseStatement", "",
                                 self._tloc(tt))
                eid, _ = self.parse_expr(f"{path}.case[{ci}].e")
                self.ast_edge(cnid, eid, "CASE_EXPRESSION", 0)
                ei = 1
                while self.accept(","):
                    # Java 14 multi-label `case 1, 2 ->` / `case A, B:`
                    e2, _ = self.parse_expr(f"{path}.case[{ci}].e{ei}")
                    self.ast_edge(cnid, e2, "CASE_EXPRESSION", ei)
                    ei += 1
                if self.dialect == "java" and self.accept("->"):
                    stmts = self._arrow_arm(f"{path}.case[{ci}]", cnid)
                else:
                    self.expect(":")
                    stmts = self._case_body(f"{path}.case[{ci}]", cnid)
                self.ast_edge(nid, cnid, "STATEMENTS", ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": False})
            elif tt.kind == "ident" and tt.text == "default":
                self.next()
                if self.dialect == "java" and self.accept("->"):
                    cnid = self.node(f"{path}.default", "DefaultStatement",
                                     "", self._tloc(tt))
                    stmts = self._arrow_arm(f"{path}.default", cnid)
                else:
                    self.expect(":")
                    cnid = self.node(f"{path}.default", "DefaultStatement",
                                     "", self._tloc(tt))
                    stmts = self._case_body(f"{path}.default", cnid)
                self.ast_edge(nid, cnid, "STATEMENTS", ci)
                cases.append({"nid": cnid, "stmts": stmts, "default": True})
            else:
                self.next()
                ci += 1
                continue
            if pending_label is not None:
                cases[-1]["label"], cases[-1]["label_nid"] = pending_label
                pending_label = None
            ci += 1
        self.expect("}")
        # C/Java case bodies fall through to the next case label unless a
        # break exits (ControlFlowSensitiveDFGSwitch.java semantics)
        return nid, {"kind": "switch", "nid": nid, "cond": sel,
                     "cases": cases, "fallthrough": True}

    def parse_switch_expr(self, path: str):
        """Java 14 switch EXPRESSION (`return switch (x) { case 1, 2 ->
        10; case 3 -> { ...; yield v; } default -> 0; };`, JLS 15.28).
        The reference predates the construct (its JavaParser visitor has
        no SwitchExpr handler), so the label `SwitchExpression` is a
        documented extension: CaseStatement/DefaultStatement arms keep
        the statement-switch vocabulary, each arm's value (arrow expr or
        `yield`) DFG-flows into the SwitchExpression node."""
        t = self.next()
        nid = self.node(path, "SwitchExpression", "", self._tloc(t))
        self.expect("(")
        sel, _ = self.parse_expr(path + ".sel")
        self.expect(")")
        self.ast_edge(nid, sel, "SELECTOR", 0)
        self._switch_exprs.append(nid)
        self.expect("{")
        ci = 0
        while self.peek().kind not in ("}", "eof"):
            tt = self.peek()
            is_default = tt.kind == "ident" and tt.text == "default"
            if not is_default and not (tt.kind == "ident"
                                       and tt.text == "case"):
                self.next()
                continue
            self.next()
            cnid = self.node(
                f"{path}.arm[{ci}]",
                "DefaultStatement" if is_default else "CaseStatement",
                "", self._tloc(tt))
            if not is_default:
                ei = 0
                while True:
                    eid, _ = self.parse_expr(f"{path}.arm[{ci}].e{ei}")
                    self.ast_edge(cnid, eid, "CASE_EXPRESSION", ei)
                    ei += 1
                    if not self.accept(","):
                        break
            if self.accept("->"):
                if self.peek().kind == "{":
                    # block arm: values arrive via `yield` statements
                    self.parse_block(f"{path}.arm[{ci}].b", cnid,
                                     "STATEMENTS")
                else:
                    vid, _ = self.parse_expr(f"{path}.arm[{ci}].v")
                    self.ast_edge(cnid, vid, "STATEMENTS", 0)
                    self.edge(vid, "DFG", nid)
                    self.accept(";")
            else:
                self.expect(":")
                self._case_body(f"{path}.arm[{ci}]", cnid)
            self.ast_edge(nid, cnid, "STATEMENTS", ci)
            ci += 1
        self.expect("}")
        self._switch_exprs.pop()
        return nid, {"kind": "switchexpr", "name": "", "type": None}

    def _arrow_arm(self, path, cnid):
        """One Java 14 arrow arm (`case 1, 2 -> body`): a single
        statement or block, terminated by an implicit break — arrow arms
        never fall through (JLS 14.11.1)."""
        if self.peek().kind == "{":
            stmts = self.parse_block(path + ".b", cnid, "STATEMENTS")
        else:
            got = self.parse_stmt(path + ".b", cnid, 0)
            self.accept(";")
            stmts = [got[1]]
        bid = self.node(path + ".brk", "BreakStatement", "", None,
                        is_implicit=True)
        self.ast_edge(cnid, bid, "STATEMENTS", 1)
        stmts = list(stmts) + [{"kind": "break", "nid": bid}]
        return stmts

    def _case_body(self, path, cnid):
        infos = []
        si = 0
        while True:
            tt = self.peek()
            if tt.kind in ("}", "eof"):
                break
            if tt.kind == "ident" and tt.text in ("case", "default"):
                break
            got = self.parse_stmt(f"{path}.b[{si}]", cnid, si)
            infos.append(got[1])
            si += 1
        return infos

    # ----------------------------------------------------------- expressions
    def parse_expr(self, path: str, min_prec: int = 1):
        lhs = self.parse_unary(path + ".u")
        # java `x >>>= 1`: tokenized as adjacent `>>` `>=` (the tokenizer
        # keeps `>>` splittable for C++ template closers); must check
        # BEFORE the binop loop eats `>>` as a shift
        if (self.dialect == "java" and min_prec <= 1
                and self.peek().kind == ">>"
                and self.peek(1).kind == ">="
                and self.peek(1).line == self.peek().line
                and self.peek(1).col == self.peek().col + 2):
            op_t = self.next()
            self.next()
            rhs = self.parse_expr(path + ".r", 1)
            return self._make_assign(lhs, ">>>=", rhs, path,
                                     self._tloc(op_t))
        lhs = self._binary_rhs(lhs, path, min_prec)
        # assignment (right-assoc, lowest)
        if self.peek().kind in _ASSIGN_OPS and min_prec <= 1:
            op_t = self.next()
            rhs = self.parse_expr(path + ".r", 1)
            return self._make_assign(lhs, op_t.text, rhs, path,
                                     self._tloc(op_t))
        # ternary
        if self.peek().kind == "?" and min_prec <= 1:
            q_t = self.next()
            tid, _ = self.parse_expr(path + ".t", 1)
            self.accept(":")
            eid, _ = self.parse_expr(path + ".e", 1)
            nid = self.node(path + ".cond", "ConditionalExpression", "",
                            self._tloc(q_t))
            lid, _ = lhs
            self.ast_edge(nid, lid, "CONDITION", 0)
            self.ast_edge(nid, tid, "THEN_EXPR", 0)
            self.ast_edge(nid, eid, "ELSE_EXPR", 0)
            self.edge(tid, "DFG", nid)  # ConditionalExpression.java:73-89
            self.edge(eid, "DFG", nid)
            return nid, {"kind": "conditional", "name": "", "type": None}
        return lhs

    def _make_assign(self, lhs, op, rhs, path, loc=None):
        lid, lmeta = lhs
        rid, rmeta = rhs
        nid = self.node(path + ".asg", "BinaryOperator", op, loc,
                        props={"operator": op}, code=op)
        self._mark_write(lid)
        self.ast_edge(nid, lid, "LHS", 0)
        self.ast_edge(nid, rid, "RHS", 0)
        if op == "=":
            # BinaryOperator.java:82-95
            self.edge(rid, "DFG", lid)
            self.edge(rid, "DFG", nid)
        else:
            # compound (BinaryOperator.java:96-108): lhs+rhs flow into the
            # operator, operator flows back into lhs
            self.edge(lid, "DFG", nid)
            self.edge(rid, "DFG", nid)
            self.edge(nid, "DFG", lid)
        tp = rmeta.get("type") or lmeta.get("type")
        if tp:
            self.eval_type(nid, tp)
        if op == "=":
            # `p = &target;` where p is fnptr-typed: the RHS function
            # reference resolves by p's signature (FunctionPointerTest
            # "initialized later on" legs) — deferred until declarations
            # are all known (_resolve_locally)
            rt = None
            if (rmeta.get("kind") == "unary" and rmeta.get("name") == "&"
                    and rmeta.get("inner_kind") in ("ref", "member")):
                rt = rmeta.get("inner_id")
            elif rmeta.get("kind") in ("ref", "member"):
                rt = rid
            if rt is not None and lmeta.get("kind") in ("ref", "member"):
                self._fnptr_assigns.append((lid, dict(lmeta), rt))
        return nid, {"kind": "binop", "name": op, "type": tp}

    def _binary_rhs(self, lhs, path: str, min_prec: int):
        n = 0
        while True:
            t = self.peek()
            key = t.text if (t.kind == "ident" and t.text == "instanceof") \
                else t.kind
            prec = _PREC.get(key)
            if prec is None or prec < min_prec or key == "?":
                return lhs
            op_t = self.next()
            op = op_t.text
            if (self.dialect == "java" and op_t.kind == ">>"
                    and self.peek().kind == ">"
                    and self.peek().line == op_t.line
                    and self.peek().col == op_t.col + 2):
                # java unsigned shift `>>>` (adjacent `>>` `>` tokens)
                self.next()
                op = ">>>"
            rhs = self.parse_unary(f"{path}.r{n}.u")
            if (op == "instanceof" and self.peek().kind == "ident"
                    and self.peek().text not in _KEYWORDS
                    and self.peek(1).kind in (")", "&&", "||", ";", "?")):
                # Java 16 pattern matching `o instanceof String s`
                # (JLS 14.30): the binding declares a flow-scoped local
                bt = self.next()
                bid = self.node(f"{path}.r{n}.bind", "VariableDeclaration",
                                bt.text, self._tloc(bt))
                tname = rhs[1].get("name") if rhs[1] else None
                if tname:
                    self.eval_type(bid, tname)
                self.declare(bt.text, bid, "var", tname)
                # the tested value flows into the binding
                self.edge(lhs[0], "DFG", bid)
            while True:
                nt = self.peek()
                nkey = nt.text if (nt.kind == "ident"
                                   and nt.text == "instanceof") else nt.kind
                nprec = _PREC.get(nkey)
                if nprec is None or nprec <= prec or nkey == "?":
                    break
                rhs = self._binary_rhs(rhs, f"{path}.r{n}", prec + 1)
            lid, lmeta = lhs
            rid, rmeta = rhs
            nid = self.node(f"{path}.b{n}", "BinaryOperator", op,
                            self._tloc(op_t), props={"operator": op},
                            code=op)
            self.ast_edge(nid, lid, "LHS", 0)
            self.ast_edge(nid, rid, "RHS", 0)
            self.edge(lid, "DFG", nid)
            self.edge(rid, "DFG", nid)
            if op in ("==", "!=", "<", "<=", ">", ">=", "&&", "||"):
                tp = "boolean" if self.dialect == "java" else "bool"
            else:
                tp = (lmeta.get("type")
                      if lmeta.get("type") == rmeta.get("type") else None)
            if tp:
                self.eval_type(nid, tp)
            meta = {"kind": "binop", "name": op, "type": tp}
            if op in ("&&", "||"):
                # short-circuit expression-level EOG
                # (EvaluationOrderGraphPass.java:551-568 + EOGTest
                # testConditionShortCircuit): the lhs exit branches to
                # BOTH the rhs entry and the operator itself (exactly 2
                # successors); the rhs exit converges on the operator.
                # Context-free — emitted for every &&/|| wherever it
                # appears (condition or initializer)
                r_entry = rmeta.get("sc_entry") or rid
                self.edge(lid, "EOG", r_entry, {"index": "0"})
                self.edge(lid, "EOG", nid, {"index": "1"})
                self.edge(rid, "EOG", nid, {"index": "2"})
                meta["sc_entry"] = lmeta.get("sc_entry") or lid
            lhs = (nid, meta)
            n += 1

    def parse_unary(self, path: str):
        t = self.peek()
        if (t.kind == "::" and self.peek(1).kind == "ident"
                and self.dialect == "cpp"):
            # global-namespace qualifier `::slk_clear()` — resolution
            # falls through the scope ladder to module/global scope
            # anyway, so the qualifier is spelling-only
            self.next()
            t = self.peek()
        if (self.dialect == "cpp" and t.kind == "ident"
                and t.text == "throw"):
            # throw-expression (C++ [expr.throw]): legal in ternary arms
            # `x > 0 ? x : throw 1` — same UnaryOperator shape as the
            # statement form
            self.next()
            nid = self.node(path, "UnaryOperator", "throw", self._tloc(t),
                            code="throw")
            if self.peek().kind not in (";", ",", ")", "]", "}", ":",
                                        "eof"):
                eid, _ = self.parse_unary(path + ".e")
                self.ast_edge(nid, eid, "INPUT", 0)
                self.edge(eid, "DFG", nid)
            return nid, {"kind": "unary", "name": "throw", "type": None}
        if t.kind in ("!", "-", "+", "~", "*", "&"):
            op = self.next().text
            iid, imeta = self.parse_unary(path + ".i")
            nid = self.node(path, "UnaryOperator", op, self._tloc(t),
                            props={"operator": op, "postfix": "false"})
            self.ast_edge(nid, iid, "INPUT", 0)
            self.edge(iid, "DFG", nid)
            # address-of / dereference adjust the type like the
            # reference's UnaryOperator type modification (& wraps in a
            # PointerType, * unwraps one level)
            ty = imeta.get("type")
            if ty and op == "&":
                ty = normalize_type(ty + "*")
            elif ty and op == "*":
                ty = ty[:-1] if ty.endswith("*") else ty
            if ty and op in ("&", "*"):
                self.eval_type(nid, ty)
            meta = {"kind": "unary", "name": op, "type": ty,
                    "inner_id": iid, "inner_kind": imeta.get("kind"),
                    "inner_name": imeta.get("name")}
            if op == "*" and imeta.get("kind") in ("ref", "member"):
                # `(*p)(...)` calls through the pointer VARIABLE p —
                # postfix needs the pointee name to seed the fnptr walk
                meta["deref_of"] = imeta.get("name")
            return nid, meta
        if t.kind in ("++", "--"):
            op = self.next().text
            iid, _ = self.parse_unary(path + ".i")
            nid = self.node(path, "UnaryOperator", op, self._tloc(t),
                            props={"operator": op, "postfix": "false"})
            self.ast_edge(nid, iid, "INPUT", 0)
            # READWRITE (UnaryOperator.java:69-97)
            self.edge(iid, "DFG", nid)
            self.edge(nid, "DFG", iid)
            self._mark_write(iid)
            return nid, {"kind": "unary", "name": op, "type": None}
        if t.kind == "ident" and t.text == "new":
            # postfix continues after the allocation —
            # `new SecureRandom().nextBytes(array)` chains a member call
            # on the construct expression (Issue285 chained-call shape)
            return self.parse_postfix(path, base=self.parse_new(path))
        return self.parse_postfix(path)

    def parse_new(self, path: str):
        t = self.next()
        tname = self.parse_type()
        if self.peek().kind == "[" or (self.peek().kind == "{"
                                       and (tname or "").endswith("[]")):
            # `new T[dim]...` — an ArrayCreationExpression with DIMENSIONS
            # children (ArrayCreationExpression.java:45-90); its capacity
            # is the evaluated first dimension (EvaluateExtensions.kt:40-43)
            nid = self.node(path, "ArrayCreationExpression", tname or "",
                            self._tloc(t))
            if tname:
                atype = tname if tname.endswith("[]") else tname + "[]"
                self.eval_type(nid, normalize_type(atype))
            di = 0
            while self.accept("["):
                if self.peek().kind != "]":
                    did, _ = self.parse_expr(f"{path}.dim[{di}]")
                    self.ast_edge(nid, did, "DIMENSIONS", di)
                self.accept("]")
                di += 1
            if self.peek().kind == "{":
                # `new int[]{...}` — the braced list is the INITIALIZER
                # child (ArrayCreationExpression.java initializer); its
                # element count doubles as the array capacity when no
                # dimension is given (OutOfBoundsCheck capacity arm 2)
                lid, _ = self.parse_init_list(f"{path}.init")
                self.ast_edge(nid, lid, "INITIALIZER", 0)
                self.edge(lid, "DFG", nid)
            return nid, {"kind": "arraycreate", "name": tname,
                         "type": (tname or "") + "[]"}
        # `new T(...)` is a NewExpression typed T* whose INITIALIZER is
        # the ConstructExpression typed T (CXXLanguageFrontendTest
        # testObjectCreation: newExpression.getInitializer() is the
        # construct expression; same shape for Java's `new`)
        nu = self.node(path, "NewExpression", tname or "", self._tloc(t))
        if tname:
            self.eval_type(nu, normalize_type(
                tname + "*" if self.dialect == "cpp" else tname))
        nid = self.node(f"{path}.ctor", "ConstructExpression", tname or "",
                        self._tloc(t))
        if tname:
            self.eval_type(nid, tname)
        rec = self.records.get(tname)
        if rec:
            self.edge(nid, "INSTANTIATES", rec["decl_id"])
        args = []
        if self.peek().kind == "(":
            args = self._parse_args(nid, f"{path}.ctor")
        self._resolve_ctor(nid, tname, args)
        self.ast_edge(nu, nid, "INITIALIZER", 0)
        self.edge(nid, "DFG", nu)  # NewExpression.java initializer flow
        return nu, {"kind": "new", "name": tname,
                    "type": (tname + "*" if tname and self.dialect == "cpp"
                             else tname)}

    def _resolve_ctor(self, nid, tname, args):
        """CONSTRUCTOR edge via the overload ladder (ConstructorsTest /
        CallResolver.java:1209-1250): arity + defaults + implicit-cast
        ranking over the record's constructors — not merely the first."""
        rec = self.records.get(tname)
        if rec is None and tname:
            # record in another span/document: defer to the link stage —
            # constructors export as methods named like their record, so
            # a member_call mention with base=record binds the real ctor
            # cross-doc (CXXIncludeTest main(): ``new SomeClass()`` binds
            # the header's constructor instead of resolving to nothing)
            self.out.mentions.append(self._mention(
                nid, "member_call", tname, base_type=tname,
                scopes=list(self.scopes),
                n_args=len(args), n_kwargs=0,
                arg_ids=[a["arg_id"] for a in args],
                arg_types=[a.get("type") for a in args]))
            return
        if not rec or not rec["ctors"]:
            return
        cands = [self._functions_by_id[c] for c in rec["ctors"]
                 if c in self._functions_by_id]
        winners = self._overload_winners(cands, args)
        if winners:
            ctor = winners[0]["decl_id"]
            self.edge(nid, "CONSTRUCTOR", ctor)
            self._dfg_args_to_params(args, ctor)

    def parse_postfix(self, path: str, base=None):
        if base is None:
            base = self.parse_operand(path)
        n = 0
        while True:
            t = self.peek()
            if (self.dialect == "java" and t.kind == "."
                    and self.peek(1).kind == "<"):
                # explicit type arguments on a method call (JLS 15.12):
                # `Collections.<String>emptyList()` — erase the witness,
                # the `.` then binds the method ident as usual
                j = self.i + 2
                d = 1
                while j < len(self.toks) and d:
                    k = self.toks[j].kind
                    if k == "<":
                        d += 1
                    elif k == ">":
                        d -= 1
                    elif k == ">>":
                        d -= 2
                    elif k in (";", "{", "}", "eof"):
                        break
                    j += 1
                if (d <= 0 and j + 1 < len(self.toks)
                        and self.toks[j].kind == "ident"
                        and self.toks[j + 1].kind == "("):
                    self.next()  # '.'
                    while self.i < j:
                        self.next()  # the erased <...> witness
                    sel = self.next()
                    base = self.member_call(base, sel, f"{path}.mc{n}")
                    n += 1
                    continue
            if (t.kind in (".", "->", "::") and self.peek(1).kind == "ident"
                    and not (t.kind == "->" and self.dialect == "java")):
                # java `->` is never member access (it's the lambda /
                # switch-arm arrow; member access is `.` only)
                if (t.kind == "::" and self.dialect == "cpp"
                        and base[1].get("kind") == "ref"):
                    # `X::member`: X is syntactically a scope qualifier
                    # (record/namespace), never an instance — keep the
                    # qualifier name as the member's base TYPE even when
                    # X is declared in another document (cross-doc static
                    # member linking, VariableResolverCppTest
                    # testExplicitlyReferenceStaticMemberInExternalClass)
                    base = (base[0], {**base[1],
                                      "name": "scope:"
                                      + (base[1].get("name") or "")})
                self.next()
                sel = self.next()
                if self.peek().kind == "(":
                    base = self.member_call(base, sel, f"{path}.mc{n}")
                else:
                    bid, bmeta = base
                    if sel.text == "super" and self.dialect == "java":
                        # qualified super (JLS 15.12): ``X.super.m()`` —
                        # carry the qualifier through to the member call;
                        # no MemberExpression node, it's pure syntax
                        base = (bid, {"kind": "qsuper",
                                      "name": f"super:{bmeta.get('name')}",
                                      "type": None})
                        n += 1
                        continue
                    if (sel.text == "this" and self.dialect == "java"
                            and bmeta.get("name") in self.records):
                        # qualified this (JLS 15.8.4): ``Outer.this.m``
                        # binds members of the NAMED enclosing class, not
                        # the innermost one (VariableResolverJavaTest
                        # testVarNameOfOuterClassAccessedViaThis)
                        base = (bid, {"kind": "qthis",
                                      "name": f"this:{bmeta.get('name')}",
                                      "type": bmeta.get("name")})
                        n += 1
                        continue
                    nid = self.node(f"{path}.sel{n}", "MemberExpression",
                                    sel.text, self._tloc(sel))
                    self.ast_edge(nid, bid, "BASE", 0)
                    self.pending_members.append(
                        (nid, sel.text, bmeta.get("name"), list(self.scopes),
                         None, "read", self.tick()))
                    base = (nid, {"kind": "member", "name": sel.text,
                                  "base_name": bmeta.get("name"),
                                  "type": None})
            elif t.kind == "(" and base[1].get("kind") == "ref":
                base = self.plain_call(base, f"{path}.call{n}")
            elif (t.kind == "<" and base[1].get("kind") in ("ref", "member")
                  and self.dialect == "cpp" and self._scan_template_args()):
                # `name<targs>(...)` — explicit template argument list
                # (disambiguated from less-than by the balanced-scan)
                targs = self._parse_template_args(f"{path}.targ{n}")
                base = self.plain_call(base, f"{path}.call{n}", targs=targs)
            elif (t.kind == "<" and base[1].get("kind") in ("ref", "member")
                  and self.dialect == "cpp"
                  and (base[1].get("name") in self._var_templates
                       or not self.resolve(base[1].get("name") or ""))
                  and self._scan_template_id()):
                # variable template / template-id as a VALUE
                # (`is_same_v<decay_t<_Up>, _Up>`): the args decorate the
                # reference; a DECLARED value named on the left keeps
                # less-than semantics (CDT's name-based disambiguation)
                targs = self._parse_template_args(f"{path}.targ{n}")
                bid, bmeta = base
                spelled = ", ".join((a.get("name") or "") for a in targs)
                base = (bid, {**bmeta,
                              "name": f"{bmeta.get('name')}<{spelled}>"})
            elif (t.kind == "{" and self.dialect == "cpp"
                  and base[1].get("kind") == "ref"):
                # brace temporary `T{...}` / `Q<K&>{}` (C++11 list-init
                # in expression position; stl_tree.h's
                # `__is_invocable<...>{}` if-constexpr conditions) —
                # an InitializerListExpression typed by the spelled name
                lid, _ = self.parse_init_list(f"{path}.binit{n}")
                bid, bmeta = base
                tname = bmeta.get("name")
                if tname:
                    self.eval_type(lid, tname)
                base = (lid, {"kind": "ile", "name": tname, "type": tname})
            elif t.kind == "(" and base[1].get("deref_of"):
                # call through a dereferenced function pointer:
                # `(*p)(...)` / `(a.*p)(...)` / `(a.*a.f)(...)` — the
                # reference names these `(*p)` and resolves invokes via
                # the pointer's DFG (CallResolver.java:1402-1434
                # handleFunctionPointerCall; FunctionPointerTest).  The
                # call registers under the POINTER's simple name so the
                # link-stage backward-DFG walk can seed on the variable/
                # field declaration.
                bid, bmeta = base
                pname = bmeta["deref_of"]
                nid = self.node(f"{path}.call{n}", "CallExpression",
                                f"(*{pname})", None)
                self.ast_edge(nid, bid, "CALLEE", 0)
                args = self._parse_args(nid, f"{path}.call{n}")
                self.pending_calls.append(
                    (nid, pname, list(self.scopes), args, None, None))
                base = (nid, {"kind": "call", "name": pname, "type": None})
            elif t.kind == "(":
                # call on an arbitrary expression
                bid, bmeta = base
                nid = self.node(f"{path}.call{n}", "CallExpression",
                                bmeta.get("name") or "", None)
                self.ast_edge(nid, bid, "CALLEE", 0)
                self._parse_args(nid, f"{path}.call{n}")
                base = (nid, {"kind": "call", "name": bmeta.get("name"),
                              "type": None})
            elif (t.kind == "." and self.peek(1).kind == "*"
                  and self.dialect == "cpp"):
                # pointer-to-member dereference `obj .* ptrexpr`
                # (func_ptr.cpp `(a.*no_param)()`, `(a.*a.field)()`):
                # modeled as a BinaryOperator `.*` whose RHS is the
                # member-pointer expression; the pointee's simple name
                # rides in `deref_of` so a following `(` becomes a
                # fnptr call on that variable/field
                self.next()
                self.next()
                bid, bmeta = base
                pid_, pmeta = self.parse_postfix(f"{path}.mp{n}")
                nid = self.node(f"{path}.mpd{n}", "BinaryOperator", ".*",
                                self._tloc(t), props={"operator": ".*"})
                self.ast_edge(nid, bid, "LHS", 0)
                self.ast_edge(nid, pid_, "RHS", 0)
                self.edge(pid_, "DFG", nid)
                base = (nid, {"kind": "unary", "name": "*",
                              "deref_of": pmeta.get("name"),
                              "type": None})
            elif t.kind == "[":
                self.next()
                bid, _ = base
                nid = self.node(f"{path}.idx{n}",
                                "ArraySubscriptionExpression", "",
                                self._tloc(t))
                self.ast_edge(nid, bid, "ARRAY_EXPRESSION", 0)
                self.edge(bid, "DFG", nid)  # ArraySubscription...java:60
                if self.peek().kind != "]":
                    sid, _ = self.parse_expr(f"{path}.idx{n}.s")
                    self.ast_edge(nid, sid, "SUBSCRIPT_EXPRESSION", 0)
                self.accept("]")
                base = (nid, {"kind": "subscript", "name": "", "type": None})
            elif t.kind in ("++", "--"):
                op = self.next().text
                bid, _ = base
                nid = self.node(f"{path}.post{n}", "UnaryOperator", op,
                                self._tloc(t),
                                props={"operator": op, "postfix": "true"})
                self.ast_edge(nid, bid, "INPUT", 0)
                self.edge(bid, "DFG", nid)
                self.edge(nid, "DFG", bid)
                self._mark_write(bid)
                base = (nid, {"kind": "unary", "name": op, "type": None})
            else:
                return base
            n += 1

    def _int_literal(self, text: str) -> tuple[int, str]:
        """(value, type) of an integer literal token — radix per prefix
        (hex/binary/octal/decimal) and the C/C++ suffix + magnitude type
        ladder (CXXLiteralTest: unsuffixed values promote int → long →
        unsigned long long as they outgrow each width; ``u``/``l``
        suffixes pin the unsigned/width floor).  Java keeps its two-rung
        int/long ladder."""
        s = text
        if s[:2].lower() not in ("0x", "0b"):
            # user-defined literal suffix (`12h`, `10ms` — C++11 UDLs,
            # chrono literals): the numeric value stands, the suffix has
            # no resolution weight in the subset
            m = re.match(r"(\d+)([a-zA-Z_]\w*)$", s)
            if m and any(c not in "uUlL" for c in m.group(2)):
                return int(m.group(1)), "int"
        suf = ""
        while s and s[-1] in "uUlL":
            suf = s[-1].lower() + suf
            s = s[:-1]
        if s[:2].lower() == "0x":
            val = int(s, 16)
        elif s[:2].lower() == "0b":
            val = int(s[2:], 2)
        elif len(s) > 1 and s[0] == "0":
            val = int(s, 8)
        else:
            val = int(s)
        n_l = suf.count("l")
        if self.dialect == "java":
            return val, ("long" if n_l or val > 2 ** 31 - 1 else "int")
        unsigned = "u" in suf
        if unsigned:
            tp = {0: "unsigned int", 1: "unsigned long"}.get(
                n_l, "unsigned long long")
        else:
            tp = {0: "int", 1: "long"}.get(n_l, "long long")
            if tp == "int" and val > 2 ** 31 - 1:
                tp = "long"
            if val > 2 ** 63 - 1:
                tp = "unsigned long long"
        return val, tp

    def _lambda_ahead(self) -> bool:
        """Java lambda lookahead at operand position: ``ident ->`` or
        ``( ... ) ->`` (scan to the matching paren).  ``->`` is
        unambiguous in Java source — it appears only in lambdas (and
        switch arrows, which never reach operand position)."""
        t = self.peek()
        if (t.kind == "ident" and t.text not in _KEYWORDS
                and self.peek(1).kind == "->"):
            return True
        if t.kind != "(":
            return False
        j, depth = self.i, 0
        while self.toks[j].kind != "eof":
            k = self.toks[j].kind
            if k == "(":
                depth += 1
            elif k == ")":
                depth -= 1
                if depth == 0:
                    return (j + 1 < len(self.toks)
                            and self.toks[j + 1].kind == "->")
            j += 1
        return False

    def parse_lambda(self, path: str):
        """C++ ``[caps](params) [specs] [-> R] { body }`` / Java
        ``x -> e`` | ``(a, b) -> { ... }`` -> a LambdaExpression node
        wrapping an anonymous FunctionDeclaration.

        Node model per the reference (LambdaExpression.kt:40-56): the
        function is the AST child (field FUNCTION) and DFG-flows into
        the lambda expression (``addPrevDFG(value)`` in the setter);
        EVAL_TYPE, when derivable, is the FunctionPointerType built from
        the parameter types + return type (kt:79-88 typeChanged).  The
        reference's CDT/JavaParser frontends have no lambda handler (the
        node exists only in its TS frontend), so real-world Java/C++
        degrades to Problem nodes there; we emit the reference's own
        node model for both dialects instead (round-4 problem-rate
        work).  C++ captures are consumed syntactically; body references
        to enclosing locals resolve through the ordinary scope stack —
        which is exactly capture-by-reference visibility."""
        t = self.peek()
        lam = self.node(path, "LambdaExpression", "", self._tloc(t))
        fid = self.node(path + ".fn", "FunctionDeclaration", "",
                        self._tloc(t), is_implicit=True)
        self.ast_edge(lam, fid, "FUNCTION", 0)
        self.edge(fid, "DFG", lam)  # LambdaExpression.kt:53 addPrevDFG
        ret_type = None
        if self.dialect == "cpp" and self.peek().kind == "[":
            self._skip_balanced("[", "]")  # capture introducer
        self.enter_scope("function", "", fid)
        param_ids, param_names, param_types = [], [], []
        pidx = 0
        if self.peek().kind == "(":
            self.next()
            while self.peek().kind not in (")", "eof"):
                self._skip_modifiers()
                save = self.i
                ptype = (self.parse_type()
                         if self._looks_like_type() else None)
                if ptype is not None and self.peek().kind != "ident":
                    # `(x, y)` — x parsed as a type but no declarator
                    # follows: Java untyped param, backtrack
                    self.i = save
                    ptype = None
                pt = (self.next() if self.peek().kind == "ident" else None)
                pid = self.node(f"{path}.p[{pidx}]",
                                "ParamVariableDeclaration",
                                pt.text if pt else "",
                                self._tloc(pt) if pt else None,
                                argument_index=pidx)
                if ptype:
                    self.eval_type(pid, ptype)
                self.edge(fid, "PARAMETERS", pid, {"index": pidx})
                self.ast_edge(fid, pid, "PARAMETERS", pidx)
                if pt is not None:
                    self.declare(pt.text, pid, "param", ptype)
                param_ids.append(pid)
                param_names.append(pt.text if pt else "")
                param_types.append(ptype)
                pidx += 1
                if not self.accept(","):
                    break
            self.accept(")")
        elif self.peek().kind == "ident":
            # Java single-param shorthand `x -> ...`
            pt = self.next()
            pid = self.node(f"{path}.p[0]", "ParamVariableDeclaration",
                            pt.text, self._tloc(pt), argument_index=0)
            self.edge(fid, "PARAMETERS", pid, {"index": 0})
            self.ast_edge(fid, pid, "PARAMETERS", 0)
            self.declare(pt.text, pid, "param", None)
            param_ids.append(pid)
            param_names.append(pt.text)
            param_types.append(None)
        if self.dialect == "cpp":
            while (self.peek().kind == "ident"
                   and self.peek().text in ("mutable", "noexcept",
                                            "constexpr")):
                self.next()
            if self.peek().kind == "->":
                self.next()
                ret_type = self.parse_type()
        else:
            self.accept("->")
        if self.peek().kind == "{":
            infos = self.parse_block(path + ".body", fid, "BODY")
            build_eog(self, fid, infos)
        else:
            # Java expression body: implicit return (JLS 15.27.2), same
            # edge kernel as an explicit return statement
            rid = self.node(path + ".ret", "ReturnStatement", "", None,
                            is_implicit=True, code="")
            self.ast_edge(fid, rid, "BODY", 0)
            vid, vmeta = self.parse_expr(path + ".v")
            self.ast_edge(rid, vid, "RETURN_VALUE", 0)
            self.edge(vid, "DFG", rid)  # ReturnStatement.java:53
            self.edge(vid, "DFG", fid)  # FunctionDeclaration.java:220-238
            if vmeta.get("type"):
                ret_type = vmeta["type"]
            build_eog(self, fid, [{"kind": "return", "nid": rid}])
        self.leave_scope()
        tp = None
        if ret_type is not None and all(param_types):
            # FunctionPointerType spelling (kt:79-88): closest concrete
            # type to an anonymous function; same spelling the fnptr
            # machinery uses so `auto f = [](int x)->int{...}; f(1);`
            # resolves through the ordinary fnptr DFG walk
            tp = normalize_type(
                f"{ret_type}(*)({', '.join(param_types)})")
            self.eval_type(lam, tp)
        self._functions_by_id[fid] = {
            "decl_id": fid, "kind": "function", "name": "",
            "n_params": len(param_ids), "param_ids": param_ids,
            "param_names": param_names, "param_types": param_types,
            "n_defaults": 0, "is_variadic": False, "is_definition": True,
            "record": None, "ret_type": ret_type, "is_static": False,
            "module": self._ns_stack[-1] if self._ns_stack else None,
        }
        return lam, {"kind": "lambda", "name": "", "type": tp,
                     "fn_id": fid}

    def parse_operand(self, path: str):
        t = self.peek()
        if (self.dialect == "java" and t.kind == "ident"
                and t.text == "switch" and self.peek(1).kind == "("):
            return self.parse_switch_expr(path)
        if self.dialect == "java" and self._lambda_ahead():
            return self.parse_lambda(path)
        if self.dialect == "cpp" and t.kind == "[":
            return self.parse_lambda(path)
        if (self.dialect == "cpp" and t.kind == "("
                and self.peek(1).kind == "{"):
            # GNU statement expression `({ stmt; ...; expr; })` —
            # CompoundStatementExpression wrapping the block (field
            # STATEMENT, CompoundStatementExpression.java:37-49); its
            # value is the last statement's, so the last child DFG-flows
            # into the node (the CDT handler's shape)
            self.next()
            nid = self.node(path, "CompoundStatementExpression", "",
                            self._tloc(t))
            infos = self.parse_block(path + ".stmt", nid, "STATEMENT")
            stmts = infos[0].get("stmts") or []
            if stmts and stmts[-1].get("nid"):
                self.edge(stmts[-1]["nid"], "DFG", nid)
            self.accept(")")
            return nid, {"kind": "stmtexpr", "name": "", "type": None}
        if t.kind == "int":
            self.next()
            val, tp = self._int_literal(t.text)
            nid = self.node(path, "Literal", str(val),
                            self._tloc(t), props={"value": t.text})
            self.eval_type(nid, tp)
            return nid, {"kind": "literal", "name": str(val), "type": tp}
        if t.kind == "float":
            self.next()
            nid = self.node(path, "Literal", t.text, self._tloc(t),
                            props={"value": t.text})
            tp = ("float" if t.text[-1] in "fF"
                  else "long double" if (self.dialect == "cpp"
                                         and t.text[-1] in "lL")
                  else "double")
            self.eval_type(nid, tp)
            return nid, {"kind": "literal", "name": t.text, "type": tp}
        if t.kind == "string":
            self.next()
            val = t.text[1:-1]
            if self.dialect == "cpp":
                # C adjacent-string-literal concatenation (C11 6.4.5),
                # including a macro between pieces: `"%" PRIu64 " total"`
                # — CDT folds these into ONE literal
                while (self.peek().kind == "string"
                       or (self.peek().kind == "ident"
                           and self.peek().text not in _KEYWORDS
                           and self.peek(1).kind == "string")):
                    if self.peek().kind == "ident":
                        self.next()
                    val += self.next().text[1:-1]
            nid = self.node(path, "Literal", val, self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "String" if self.dialect == "java"
                           else "string")
            return nid, {"kind": "literal", "name": val,
                         "type": "String" if self.dialect == "java"
                         else "string"}
        if t.kind == "char":
            self.next()
            nid = self.node(path, "Literal", t.text.strip("'"),
                            self._tloc(t), props={"value": t.text})
            self.eval_type(nid, "char")
            return nid, {"kind": "literal", "name": t.text, "type": "char"}
        if t.kind == "ident" and t.text in ("true", "false"):
            self.next()
            nid = self.node(path, "Literal", t.text, self._tloc(t),
                            props={"value": t.text})
            self.eval_type(nid, "boolean" if self.dialect == "java"
                           else "bool")
            return nid, {"kind": "literal", "name": t.text, "type": "boolean"}
        if t.kind == "ident" and t.text in ("null", "nullptr"):
            self.next()
            nid = self.node(path, "Literal", t.text, self._tloc(t),
                            props={"value": t.text})
            return nid, {"kind": "literal", "name": t.text, "type": None}
        if t.kind == "ident" and t.text == "this":
            self.next()
            nid = self.node(path, "DeclaredReferenceExpression", "this",
                            self._tloc(t))
            self.pending_refs.append(
                (nid, "this", list(self.scopes), "read", self.tick()))
            return nid, {"kind": "ref", "name": "this", "type": None}
        if (t.kind == "ident" and self.dialect == "cpp"
                and t.text in _NAMED_CASTS and self.peek(1).kind == "<"):
            # named cast `static_cast<T>(e)` — a CastExpression named by
            # the cast keyword, castType = T via EVAL_TYPE
            # (CXXLanguageFrontendTest testCast over castexpr.cpp)
            self.next()
            self.expect("<")
            tname = self.parse_type() or ""
            self.accept(">")
            self.expect("(")
            eid, _ = self.parse_expr(path + ".cast")
            self.accept(")")
            nid = self.node(path, "CastExpression", t.text, self._tloc(t))
            self.ast_edge(nid, eid, "EXPRESSION", 0)
            if tname:
                self.eval_type(nid, tname)
            self.edge(eid, "DFG", nid)  # CastExpression.java:60
            return nid, {"kind": "cast", "name": t.text, "type": tname}
        if (t.kind == "ident" and t.text == "sizeof"
                and self.peek(1).kind == "." and self.peek(2).kind == "."
                and self.peek(3).kind == "."):
            # `sizeof...(Pack)` — a TypeIdExpression over the pack name
            # (CDT IASTTypeIdExpression op_sizeofParameterPack)
            self.next()
            self.next(); self.next(); self.next()
            self.expect("(")
            pname = self.next().text if self.peek().kind == "ident" else ""
            self.accept(")")
            nid = self.node(path, "TypeIdExpression", "sizeof...",
                            self._tloc(t),
                            props={"referenced_type": pname})
            self.eval_type(nid, "std::size_t")
            return nid, {"kind": "typeid", "name": "sizeof...",
                         "type": "std::size_t"}
        if (t.kind == "ident" and t.text in _TYPEID_OPS
                and self.peek(1).kind == "("
                and not (self.dialect == "java" and t.text != "sizeof")):
            # sizeof/alignof/typeid/typeof — CDT prefers the TYPE-ID
            # interpretation (TypeIdExpression, testTypeId) unless the
            # argument is a single identifier naming a declared VALUE, in
            # which case sizeof(a) is a UnaryOperator
            # (testUnaryOperator over unaryoperator.cpp)
            op = self.next().text
            self.expect("(")
            if (op in ("sizeof", "alignof")
                    and self.peek().kind == "ident"
                    and self.peek(1).kind == ")"
                    and self.resolve(self.peek().text)):
                iid, _ = self.parse_expr(path + ".i")
                self.accept(")")
                nid = self.node(path, "UnaryOperator", op, self._tloc(t),
                                props={"operator": op, "postfix": "false"})
                self.ast_edge(nid, iid, "INPUT", 0)
                self.edge(iid, "DFG", nid)
                sz = "std::size_t" if self.dialect == "cpp" else "int"
                self.eval_type(nid, sz)
                return nid, {"kind": "unary", "name": op, "type": sz}
            tname = self.parse_type()
            if not tname and self.peek().kind == "ident":
                tname = self.next().text
            self.accept(")")
            nid = self.node(path, "TypeIdExpression", op, self._tloc(t),
                            props={"referenced_type": tname or ""})
            ety = {"sizeof": "std::size_t", "alignof": "std::size_t",
                   "typeid": "const std::type_info&"}.get(op, tname)
            if ety:
                self.eval_type(nid, ety)
            return nid, {"kind": "typeid", "name": op, "type": ety}
        if t.kind == "ident" and t.text not in _KEYWORDS:
            self.next()
            nid = self.node(path, "DeclaredReferenceExpression", t.text,
                            self._tloc(t))
            self.pending_refs.append(
                (nid, t.text, list(self.scopes), "read", self.tick()))
            # the declared type (if already in scope) feeds overload ranking
            d = self.resolve(t.text)
            return nid, {"kind": "ref", "name": t.text,
                         "type": (d or {}).get("type")}
        if t.kind == "(":
            # cast `(Type) expr` vs parenthesized expr
            save = self.i
            self.next()
            qk = 0
            while (self.peek(qk).kind == "ident"
                   and self.peek(qk).text in ("const", "volatile",
                                              "unsigned", "signed")):
                # `(const char *)x` — the probe looks past qualifiers
                qk += 1
            unk_ptr_cast = deco = False
            if (self.dialect == "cpp" and self.peek(qk).kind == "ident"
                    and self.peek(qk).text not in _KEYWORDS
                    and not self.resolve(self.peek(qk).text)):
                # `(sb_symbol *) malloc(...)`: an unresolved identifier
                # followed by '*'s and ')' can only be a pointer cast —
                # `(a * )` is not an expression
                j = qk + 1
                while self.peek(j).kind == "*":
                    j += 1
                unk_ptr_cast = (j > qk + 1 and self.peek(j).kind == ")") or (
                    # `(uInt)comprLen`: `(expr) ident` is invalid, so an
                    # unresolved single ident before `) ident/literal`
                    # must be a cast
                    self.peek(qk + 1).kind == ")"
                    and self.peek(qk + 2).kind in ("ident", "int",
                                                   "float", "string"))
                # `(z_const unsigned char *)x`: decoration macro before
                # a type word (same rule as parse_type's skip)
                deco = (self.peek(qk + 1).kind == "ident"
                        and (self.peek(qk + 1).text in _PRIMITIVES
                             or self.peek(qk + 1).text in (
                                 "const", "unsigned", "signed",
                                 "volatile", "struct", "union", "enum")))
            if self._looks_like_type(qk) or qk > 0 or unk_ptr_cast or deco:
                tname = self.parse_type()
                if (tname and self.peek().kind == "("
                        and self.peek(1).kind == "*"
                        and self.peek(2).kind == ")"):
                    # cast to a function-pointer TYPE:
                    # `(ret (*)(params))expr` (retdec client.c line 71)
                    self.next(); self.next(); self.next()
                    fpp = []
                    if self.accept("("):
                        while self.peek().kind not in (")", "eof"):
                            fp = self.parse_type()
                            if fp is None:
                                self.next()
                                continue
                            fpp.append(fp)
                            if self.peek().kind == "ident":
                                self.next()
                            if not self.accept(","):
                                break
                        self.accept(")")
                    tname = normalize_type(
                        f"{tname}(*)({', '.join(fpp)})")
                # `(T*)&x` / `(struct S*)&x`: a pointer-type cast may be
                # followed by unary & or * — unambiguous because the
                # spelling ends in '*' (a bare `(a) & b` stays binary)
                follow = ("ident", "int", "float", "string", "char", "(")
                definite = tname and (
                    tname in _PRIMITIVES or " " in tname
                    or self._typedef_lookup(tname) is not None
                    or tname in self.records)
                if tname and (tname.endswith("*") or "(*)" in tname
                              or definite):
                    # a pointer spelling, or a KNOWN type (`(unsigned
                    # long)*put++`): `*`/`&` after it must be unary —
                    # a bare unresolved `(a) & b` stays binary;
                    # `(void)++it` discards an increment (stl_algobase.h)
                    follow = follow + ("&", "*", "-", "+", "!", "~",
                                       "++", "--")
                if tname and self.peek().kind == ")" \
                        and self.peek(1).kind in follow:
                    self.next()
                    eid, _ = self.parse_unary(path + ".cast")
                    nid = self.node(path, "CastExpression", tname,
                                    self._tloc(t))
                    self.ast_edge(nid, eid, "EXPRESSION", 0)
                    self.eval_type(nid, tname)
                    self.edge(eid, "DFG", nid)  # CastExpression.java:60
                    return nid, {"kind": "cast", "name": tname, "type": tname}
            self.i = save
            self.next()
            # comma (sequence) expressions are legal in parens —
            # `foo = (1,2,3,4,42)` (ExpressionList.java:65-80; the
            # value is the LAST element's)
            inner = self._parse_expr_list(path + ".par")
            self.accept(")")
            return inner
        if t.kind == "{":
            return self.parse_init_list(path)
        # gap operand
        self.next()
        nid = self.node(path, "Expression", "", self._tloc(t), code=t.text)
        return nid, {"kind": "gap", "name": "", "type": None}

    def parse_init_list(self, path: str):
        """Braced initializer ``{ 1, 2, 3 }`` -> InitializerListExpression
        with ordered INITIALIZERS children, each element DFG-flowing into
        the list (InitializerListExpression.java:81;
        CXXLanguageFrontendTest testArrays / testInitListExpression).
        C99 designators ``.y = 0`` / ``[3] = 1`` become
        DesignatedInitializerExpression elements (testDesignatedInitializer
        over designatedInitializer.c).  Also feeds the OutOfBoundsCheck
        capacity arm (element count, operators/checks.py)."""
        t = self.next()
        nid = self.node(path, "InitializerListExpression", "",
                        self._tloc(t))
        idx = 0
        while self.peek().kind not in ("}", "eof"):
            ep = f"{path}.e[{idx}]"
            if (self.peek().kind == "." and self.peek(1).kind == "ident") \
                    or self.peek().kind == "[":
                eid = self._parse_designated(ep)
            else:
                eid, _ = self.parse_expr(ep)
            self.ast_edge(nid, eid, "INITIALIZERS", idx)
            self.edge(eid, "DFG", nid)  # InitializerListExpression.java:81
            if (self.peek().kind == "." and self.peek(1).kind == "."
                    and self.peek(2).kind == "."):
                # pack expansion element `{__lockables, defer_lock}...`
                self.next(); self.next(); self.next()
            idx += 1
            if not self.accept(","):
                break
        self.accept("}")
        return nid, {"kind": "initlist", "name": "", "type": None}

    def _parse_designated(self, path: str):
        """One designated element: lhs = the designator chain (field refs
        for ``.name``, index expressions for ``[k]``), rhs = the value
        (DesignatedInitializerExpression.java lhs/rhs)."""
        t0 = self.peek()
        die = self.node(path, "DesignatedInitializerExpression", "",
                        self._tloc(t0))
        li = 0
        while True:
            if self.peek().kind == "." and self.peek(1).kind == "ident":
                self.next()
                sel = self.next()
                # field designators name members of the record being
                # initialized — plain refs, resolved later if at all
                lid = self.node(f"{path}.l[{li}]",
                                "DeclaredReferenceExpression", sel.text,
                                self._tloc(sel))
            elif self.peek().kind == "[":
                if (self.peek(1).kind in ("int", "ident")
                        and self.peek(2).kind == "."
                        and self.peek(3).kind == "."
                        and self.peek(4).kind == "."
                        and self.peek(5).kind in ("int", "ident")
                        and self.peek(6).kind == "]"):
                    # GNU array-range designator ``[2 ... 5] = x`` ->
                    # ArrayRangeExpression with FLOOR/CEILING children
                    # (expressions/ArrayRangeExpression.java;
                    # cpp/ExpressionHandler.kt:756-763)
                    self.next()
                    ft = self.next()
                    self.next()
                    self.next()
                    self.next()
                    ct = self.next()
                    lid = self.node(f"{path}.l[{li}]",
                                    "ArrayRangeExpression", "",
                                    self._tloc(ft))

                    def _range_leaf(tok, tag):
                        if tok.kind == "int":
                            lf = self.node(f"{path}.l[{li}].{tag}",
                                           "Literal", tok.text,
                                           self._tloc(tok), code=tok.text)
                            self.eval_type(lf, "int")
                        else:
                            lf = self.node(f"{path}.l[{li}].{tag}",
                                           "DeclaredReferenceExpression",
                                           tok.text, self._tloc(tok))
                        return lf

                    self.ast_edge(lid, _range_leaf(ft, "floor"), "FLOOR", 0)
                    self.ast_edge(lid, _range_leaf(ct, "ceiling"),
                                  "CEILING", 0)
                else:
                    self.next()
                    lid, _ = self.parse_expr(f"{path}.l[{li}]")
                self.accept("]")
            else:
                break
            self.ast_edge(die, lid, "LHS", li)
            li += 1
        self.accept("=")
        rid, _ = self.parse_expr(f"{path}.r")
        self.ast_edge(die, rid, "RHS", 0)
        self.edge(rid, "DFG", die)
        return die

    def _scan_template_args(self) -> bool:
        """Lookahead: a balanced ``<...>`` of type/literal tokens followed
        immediately by ``(`` — the subset's template-vs-less-than
        disambiguation (the reference leans on CDT's)."""
        if self.peek().kind != "<":
            return False
        j, depth, pd = self.i + 1, 1, 0
        while depth and j < len(self.toks):
            k = self.toks[j].kind
            if k == "(":
                pd += 1
                j += 1
                continue
            if k == ")":
                if pd == 0:
                    return False
                pd -= 1
                j += 1
                continue
            if pd:
                # inside a parenthesized sub-expression (`X<v<a>(), T>`):
                # any token goes, angles don't nest
                j += 1
                continue
            if k == "<":
                depth += 1
            elif k == ">":
                depth -= 1
            elif k == ">>":
                depth -= 2
            elif k not in ("ident", "int", "float", "string", "char",
                           ",", "*", "&", "&&", "::", "[", "]", "."):
                return False
            j += 1
        if depth != 0 or j >= len(self.toks):
            return False
        return self.toks[j].kind == "("

    def _scan_template_id(self) -> bool:
        """Lookahead for a template-id used as a VALUE (variable
        template, `is_same_v<T, int>`): balanced ``<...>`` whose
        follower cannot continue a comparison chain."""
        if self.peek().kind != "<":
            return False
        j, depth, pd = self.i + 1, 1, 0
        while depth and j < len(self.toks):
            k = self.toks[j].kind
            if k == "(":
                pd += 1
                j += 1
                continue
            if k == ")":
                if pd == 0:
                    return False
                pd -= 1
                j += 1
                continue
            if pd:
                # inside a parenthesized sub-expression (`X<v<a>(), T>`):
                # any token goes, angles don't nest
                j += 1
                continue
            if k == "<":
                depth += 1
            elif k == ">":
                depth -= 1
            elif k == ">>":
                depth -= 2
            elif k not in ("ident", "int", "float", "string", "char",
                           ",", "*", "&", "&&", "::", "[", "]", "."):
                return False
            j += 1
        return (depth == 0 and j < len(self.toks)
                and self.toks[j].kind in (")", ",", ";", "]", "?", "}",
                                          "{"))

    def _parse_template_args(self, path: str) -> list[dict]:
        """``<double, 3>`` (possibly empty ``<>``): type args become
        bindings, value args become Literal nodes."""
        self.expect("<")
        targs: list[dict] = []
        i = 0
        while self.peek().kind not in (">", "eof"):
            if self._looks_like_type() or (
                    # an undeclared template-id arg (`ctype<_CharT>`):
                    # ident directly followed by its own angle list can
                    # only be a type in template-argument position
                    self.peek().kind == "ident"
                    and self.peek(1).kind == "<") or (
                    # trailing-reference arg `value_type&&` / `T&` right
                    # before ','/'>' — a VALUE expression cannot end in a
                    # reference qualifier (stl_tree.h __conditional_t)
                    self.peek().kind == "ident"
                    and self.peek(1).kind in ("&", "&&", "*")
                    and self.peek(2).kind in (",", ">", ">>")):
                targs.append({"kind": "type", "name": self.parse_type()})
            else:
                aid, ameta = self.parse_operand(f"{path}[{i}]")
                targs.append({"kind": "value", "node": aid,
                              "name": (ameta or {}).get("name"),
                              "type": (ameta or {}).get("type")})
            if (self.peek().kind == "." and self.peek(1).kind == "."
                    and self.peek(2).kind == "."):
                # pack expansion `_Types...` — expansion is spelling-only
                self.next(); self.next(); self.next()
            i += 1
            if not self.accept(","):
                break
        self.expect(">")
        return targs

    def plain_call(self, base, path: str, targs: list | None = None):
        bid, bmeta = base
        name = bmeta.get("name") or ""
        self._drop_pending_ref(bid)
        rec_scope = self.current_record()
        if name in self.records:
            # ctor detection (ConstructorsTest copy-init ``A a = A(5);``):
            # a call whose callee names a record IS a ConstructExpression
            # (the reference rewrites these in the frontends); only
            # records already seen apply — the subset parser resolves
            # ctor edges inline, not in the deferred pass
            nid = self.node(path, "ConstructExpression", name, None,
                            props={"fqn": name})
            self.eval_type(nid, name)
            self.edge(nid, "INSTANTIATES", self.records[name]["decl_id"])
            args = self._parse_args(nid, path)
            self._resolve_ctor(nid, name, args)
            return nid, {"kind": "construct", "name": name, "type": name}
        nid = self.node(path, "CallExpression", name, None,
                        props={"fqn": name})
        args = self._parse_args(nid, path)
        # resolution is DEFERRED so overloads/methods declared later in
        # the document participate (the reference resolves on the complete
        # graph); a bare call inside a record body first tries the record's
        # methods (implicit this-call), then module-level overloads
        self.pending_calls.append(
            (nid, name, list(self.scopes), args,
             rec_scope.name if rec_scope else None, targs))
        return nid, {"kind": "call", "name": name, "type": None}

    def member_call(self, base, sel: Tok, path: str):
        bid, bmeta = base
        name = sel.text
        base_name = bmeta.get("name")
        mid = self.node(path + ".m", "DeclaredReferenceExpression", name,
                        self._tloc(sel))
        nid = self.node(path, "MemberCallExpression", name, self._tloc(sel),
                        props={"fqn": f"{base_name}.{name}" if base_name
                               else name})
        self.ast_edge(nid, bid, "BASE", 0)
        self.ast_edge(nid, mid, "MEMBER", 0)
        args = self._parse_args(nid, path)
        self.pending_members.append(
            (nid, name, base_name, list(self.scopes), args, "call",
             self.tick()))
        return nid, {"kind": "member_call", "name": name, "type": None}

    def _parse_args(self, call_id: str, path: str):
        self.expect("(")
        args = []
        idx = 0
        while self.peek().kind not in (")", "eof"):
            aid, ameta = self.parse_expr(f"{path}.a[{idx}]")
            self.edge(call_id, "ARGUMENTS", aid, {"index": idx})
            self.ast_edge(call_id, aid, "ARGUMENTS", idx)
            # the spelled argument type (literal / typed ref) feeds the
            # overload-resolution ladder; None = unknown (wildcard)
            args.append({"arg_id": aid, "kw": None, "index": idx,
                         "type": (ameta or {}).get("type")})
            if (self.dialect == "cpp" and self.peek().kind == "."
                    and self.peek(1).kind == "."
                    and self.peek(2).kind == "."):
                # pack expansion argument `g(args...)` /
                # `target(std::forward<A>(a)...)` — spelling-only
                self.next(); self.next(); self.next()
            idx += 1
            if not self.accept(","):
                break
        self.accept(")")
        return args

    # ------------------------------------------------ overload ladder
    # signature-compatibility subset of CallResolver.java:847-1014: arity
    # with default arguments and variadics, exact type match outranking
    # implicit numeric casts; ties keep ALL candidates (the reference's
    # ambiguous-call behaviour emits every invokes edge)

    def _sig_rank(self, fn, args):
        np_ = fn.get("n_params")
        if np_ is None:
            return 0
        nd = fn.get("n_defaults") or 0
        na = len(args or [])
        if fn.get("is_variadic"):
            if na < np_ - nd:
                return None
        elif not (np_ - nd <= na <= np_):
            return None
        rank = 0
        ptypes = fn.get("param_types") or []
        for i, a in enumerate(args or []):
            if i >= len(ptypes):
                break
            at, pt_ = a.get("type"), ptypes[i]
            # top-level cv-qualifiers / references are held out of the
            # signature (const char* accepts a string literal — the
            # reference compares bare TypeParser names here)
            if at:
                at = at.removeprefix("const ").rstrip("&")
            if pt_:
                pt_ = pt_.removeprefix("const ").rstrip("&")
            if not at or not pt_ or at == pt_:
                continue
            if at in _NUM_TYPES and pt_ in _NUM_TYPES:
                rank = 1
            elif at in _STR_TYPES and pt_ in _STR_TYPES:
                rank = 1
            else:
                return None
        return rank

    def _overload_winners(self, cands, args):
        best, best_rank = [], None
        for fn in cands:
            r = self._sig_rank(fn, args)
            if r is None:
                continue
            if best_rank is None or r < best_rank:
                best, best_rank = [fn], r
            elif r == best_rank:
                best.append(fn)
        return best

    def _overload_winners_ranked(self, cands, args):
        """Like :meth:`_overload_winners` but also returns the winning
        rank (0 exact, 1 implicit cast, None no viable candidate) so the
        template ladder can slot between the two."""
        best, best_rank = [], None
        for fn in cands:
            r = self._sig_rank(fn, args)
            if r is None:
                continue
            if best_rank is None or r < best_rank:
                best, best_rank = [fn], r
            elif r == best_rank:
                best.append(fn)
        return best, best_rank

    @staticmethod
    def _bare(t):
        return t.removeprefix("const ").rstrip("&") if t else t

    def _wrap_cast(self, call_id: str, a: dict, tname: str) -> str:
        """Materialize an implicit conversion: re-point the call's
        ARGUMENTS/AST edges at a new implicit CastExpression wrapping the
        original argument (CallResolver.java:847-907 applyImplicitCast)."""
        aid = a["arg_id"]
        # keyed on the call's AST path, not its doc-hashed id, so a
        # relocated duplicate span re-hashes to the id a direct parse mints
        call_path = self.out.id_log[call_id][0]
        cid = self.node(f"icast.{call_path}.{a['index']}", "CastExpression",
                        tname, None, is_implicit=True)
        for e in self.out.edges:
            if e["subj"] == call_id and e["obj"] == aid and (
                    e["pred"] == "ARGUMENTS"
                    or (e["pred"] == "AST"
                        and e["props"].get("field") == "ARGUMENTS")):
                e["obj"] = cid
        self.ast_edge(cid, aid, "EXPRESSION", 0)
        self.eval_type(cid, tname)
        self.edge(aid, "DFG", cid)  # CastExpression.java:60
        a["arg_id"] = cid
        a["type"] = tname
        return cid

    def _wrap_call_casts(self, call_id, fn, args):
        ptypes = fn.get("param_types") or []
        for i, a in enumerate(args or []):
            if i >= len(ptypes):
                break
            at, pt_ = self._bare(a.get("type")), self._bare(ptypes[i])
            if at and pt_ and at != pt_:
                self._wrap_cast(call_id, a, pt_)

    # ------------------------------------------------ template ladder
    # function-template instantiation subset of CallResolver.java:521-:
    # explicit args positionally, deduction from argument types (conflict
    # -> not viable, FunctionTemplateTest f(1,'b')), defaults for the
    # rest; an explicitly-bound type param may force a numeric cast on
    # the argument (invocation6)

    def _first_instantiation(self, tpls, targs, args):
        for tpl in tpls:
            inst = self._instantiate_template(tpl, targs, args)
            if inst is not None:
                return inst
        return None

    def _instantiate_template(self, tpl, targs, args):
        params, fn = tpl["params"], tpl["fn"]
        binding: dict[str, str] = {}
        sources: dict[int, tuple] = {}
        type_param_names = {p["name"] for p in params if p["kind"] == "type"}
        pi_of = {p["name"]: p["pi"] for p in params}
        explicit_types: set[str] = set()
        if targs:
            if len(targs) > len(params):
                return None
            for tp, ta in zip(params, targs):
                if tp["kind"] == "type":
                    if ta["kind"] != "type":
                        return None
                    binding[tp["name"]] = ta["name"]
                    explicit_types.add(tp["name"])
                    sources[tp["pi"]] = ("EXPLICIT", ("type", ta["name"]))
                else:
                    if ta["kind"] != "value":
                        return None
                    sources[tp["pi"]] = ("EXPLICIT", ("node", ta["node"]))
        np_, nd = fn["n_params"], fn.get("n_defaults") or 0
        na = len(args or [])
        if not (np_ - nd <= na <= np_):
            return None
        casts = []
        ptypes = fn.get("param_types") or []
        for i, a in enumerate(args or []):
            pt_ = ptypes[i] if i < len(ptypes) else None
            at = self._bare(a.get("type"))
            if pt_ in type_param_names:
                if pt_ in binding:
                    want = binding[pt_]
                    if at and at != want:
                        # an EXPLICIT binding coerces the argument
                        # (invocation6); a deduced one conflicting with a
                        # later use kills the instantiation (f(1,'b'))
                        if (pt_ in explicit_types
                                and at in _NUM_TYPES and want in _NUM_TYPES):
                            casts.append((a, want))
                        else:
                            return None
                elif at is None:
                    return None  # nothing to deduce from
                else:
                    binding[pt_] = at
                    sources[pi_of[pt_]] = ("AUTO_DEDUCTION", ("type", at))
            elif at and pt_ and at != self._bare(pt_):
                if not (at in _NUM_TYPES and self._bare(pt_) in _NUM_TYPES):
                    return None
                casts.append((a, self._bare(pt_)))
        for tp in params:
            if tp["pi"] in sources:
                continue
            if tp["kind"] == "type":
                if tp["name"] in binding:
                    continue  # deduced via an earlier duplicate use
                if not tp["default"]:
                    return None
                binding[tp["name"]] = tp["default"]
                sources[tp["pi"]] = ("DEFAULT", ("type", tp["default"]))
            else:
                if tp.get("default_lit") is None:
                    return None
                sources[tp["pi"]] = ("DEFAULT", ("node", tp["default_lit"]))
        return {"tpl": tpl, "fn": fn, "binding": binding,
                "sources": sources, "casts": casts}

    def _emit_template_call(self, call_id, inst, args):
        fn, tpl = inst["fn"], inst["tpl"]
        self.edge(call_id, "CALLS", fn["decl_id"])
        self.edge(fn["decl_id"], "DFG", call_id)
        for a, want in inst["casts"]:
            self._wrap_cast(call_id, a, want)
        self._dfg_args_to_params(args, fn["decl_id"])
        self.edge(call_id, "TEMPLATE_INSTANTIATION", tpl["tid"])
        call_path = self.out.id_log[call_id][0]  # see _wrap_cast
        for tp in tpl["params"]:
            src, (vkind, val) = inst["sources"][tp["pi"]]
            props = {"index": tp["pi"], "instantiation": src}
            if vkind == "type":
                te = self.node(f"targ.{call_path}.{tp['pi']}",
                               "TypeExpression", val, None,
                               is_implicit=(src != "EXPLICIT"))
                self.eval_type(te, val)
                self.edge(call_id, "TEMPLATE_PARAMETERS", te, props)
            else:
                self.edge(call_id, "TEMPLATE_PARAMETERS", val, props)
                # the instantiation literal flows into the value param
                # (FunctionTemplateTest:155-157 N.prevDFG)
                self.edge(val, "DFG", tp["decl_id"])
        rt = fn.get("ret_type")
        rt = inst["binding"].get(rt, rt)
        if rt:
            self.eval_type(call_id, rt)

    def _method_winners(self, rec_name, name, args, _depth=0):
        """Overload ladder over one record's methods, walking supertypes
        nearest-first when the record itself has no viable candidate."""
        rec = self.records.get(rec_name)
        if rec is None or _depth > 16:
            return []
        fids = rec["methods"].get(name) or []
        infos = [self._functions_by_id[f] for f in fids
                 if f in self._functions_by_id]
        winners = self._overload_winners(infos, args)
        if winners:
            return winners
        for sup in rec["supers"]:
            w = self._method_winners(sup, name, args, _depth + 1)
            if w:
                return w
        return []

    def _share_default_counts(self):
        """A prototype and its definition share default arguments
        (CallResolverTest: declaration and definition report the same
        defaultParameters) — propagate the max count within each
        same-signature overload group."""
        for cands in self._overloads.values():
            by_sig: dict = {}
            for fn in cands:
                key = (fn["n_params"], tuple(fn.get("param_types") or []))
                by_sig.setdefault(key, []).append(fn)
            for group in by_sig.values():
                mx = max(f.get("n_defaults") or 0 for f in group)
                for f in group:
                    f["n_defaults"] = mx

    def _process_fnptr_assigns(self):
        """Derive signature hints for ``p = &target;`` assignments: the
        LHS's declared fnptr type (now fully known) keys overload
        selection for the RHS function reference
        (FunctionPointerTest "initialized later on" legs)."""
        refs_by_id = {p[0]: p for p in self.pending_refs}
        members_by_id = {p[0]: p for p in self.pending_members}
        for lid, lmeta, rt in self._fnptr_assigns:
            tpe = None
            pr = refs_by_id.get(lid)
            if pr is not None:
                _, name, scopes, _, seq = pr
                d = self._lookup(scopes, name, seq)
                tpe = d.get("type") if d else None
            else:
                pm = members_by_id.get(lid)
                if pm is not None:
                    _, attr, base_name, scopes, _, _, seq = pm
                    bt = None
                    if base_name:
                        bd = self._lookup(scopes, base_name, seq)
                        if bd is not None:
                            bt = (bd.get("type") or "").rstrip("*[]") or None
                        elif base_name in self.records:
                            bt = base_name
                    rec = self.records.get(bt) if bt else None
                    if rec is not None:
                        tpe = rec.get("field_types", {}).get(attr)
            sig = self._fnptr_sig(tpe)
            if sig is not None and rt not in self._ref_sig_hint:
                self._ref_sig_hint[rt] = sig

    def _resolve_locally(self):
        for _nid, _tname, _args in getattr(self, "_deferred_ctor_inits", []):
            # mem-initializer ctor targets (parse-order independent)
            self._resolve_ctor(_nid, _tname, _args)
        self._process_fnptr_assigns()
        for ref_id, name, scopes, access, seq in self.pending_refs:
            d = self._lookup(scopes, name, seq)
            hint = self._ref_sig_hint.get(ref_id)
            if hint is not None:
                # function reference behind a fnptr: the pointer's
                # signature selects the overload
                # (FunctionPointerTest: &target binds target()/target(int)
                # by the declarator's parameter list)
                cands = [f for f in self._overloads.get(("", name), [])
                         if (f.get("n_params") or 0) == len(hint)]
                wins = (self._overload_winners(
                    cands,
                    [{"type": t, "index": i} for i, t in enumerate(hint)])
                    or cands)
                if wins:
                    fn = wins[0]
                    self.edge(ref_id, "REFERS_TO", fn["decl_id"])
                    self.edge(fn["decl_id"], "DFG", ref_id)
                    continue
                if d is None:
                    # unknown function (&fun): a signature-hinted mention;
                    # the link stage resolves it cross-document or infers
                    # FunctionDeclaration(name, arity) — n_args carries
                    # the expected arity
                    self.out.mentions.append(self._mention(
                        ref_id, "ref", name, scopes=scopes,
                        n_args=len(hint), n_kwargs=0,
                        arg_types=[t or None for t in hint]))
                    continue
                # else: the name binds a declared variable (fnptr copy)
                # — fall through to the generic binding
            if d is not None:
                self.edge(ref_id, "REFERS_TO", d["decl_id"])
                if access == "write":
                    self.edge(ref_id, "DFG", d["decl_id"])
                else:
                    self.edge(d["decl_id"], "DFG", ref_id)
                if d.get("type"):
                    self.eval_type(ref_id, d["type"])
            elif ((name in self.imports
                   and name not in self._static_import_names)
                  or name == "super"):
                # `super` is a keyword base, not a reference — its member
                # accesses resolve through pending_members above; an
                # imported CLASS name is a scope qualifier, but a
                # statically-imported MEMBER name falls through to the
                # mention below (it binds A's static field/method
                # cross-document — StaticImportsTest)
                pass
            else:
                # base_type = innermost record scope: an unqualified name
                # inside a method may be an implicit-this FIELD of the
                # (possibly cross-span) enclosing record — the reference's
                # VariableUsageResolver tries the record scope before
                # globals; the link stage ranks a field of base_type (or
                # its ancestors) above foreign module-level declarations
                rec_s = None
                for s in scopes:
                    if s.kind == "record":
                        rec_s = s
                self.out.mentions.append(
                    self._mention(ref_id, "ref", name, scopes=scopes,
                                  base_type=rec_s.name if rec_s else None))
        self._share_default_counts()
        for call_id, name, scopes, args, rec_name, targs in self.pending_calls:
            tpls = (self._templates.get((rec_name or "", name))
                    or self._templates.get(("", name)) or [])
            if targs is not None:
                # explicit `name<...>(...)` syntax restricts resolution to
                # templates (CallResolver.java handleTemplateFunctionCalls;
                # FunctionTemplateTest f4 `f<>(1,'b')` -> inferred on miss)
                inst = self._first_instantiation(tpls, targs, args)
                if inst is not None:
                    self._emit_template_call(call_id, inst, args)
                else:
                    self.out.mentions.append(self._mention(
                        call_id, "call", name, base_type=rec_name or None,
                        scopes=scopes, n_args=len(args), n_kwargs=0,
                        arg_ids=[a["arg_id"] for a in args],
                        arg_types=[a.get("type") for a in args]))
                continue
            winners, rank = [], None
            if rec_name:  # implicit this-call candidates first
                winners = self._method_winners(rec_name, name, args)
            if not winners:
                nt = [f for f in self._overloads.get(("", name), [])
                      if not f.get("is_template_realization")]
                winners, rank = self._overload_winners_ranked(nt, args)
                if tpls and (not winners or rank > 0):
                    # template ladder: an exact non-template match wins
                    # (invocation1/7), but a viable instantiation beats
                    # implicit-cast matches (CallResolver template step
                    # precedes applyImplicitCasts)
                    inst = self._first_instantiation(tpls, None, args)
                    if inst is not None:
                        self._emit_template_call(call_id, inst, args)
                        continue
                if winners and rank and len(winners) == 1 \
                        and self.dialect == "cpp":
                    # the surviving implicit-cast match materializes its
                    # casts — C++ only, like the reference
                    # (CallResolver.java:847-907 applyImplicitCast;
                    # FunctionTemplateTest f(1,'b') -> CastExpression)
                    self._wrap_call_casts(call_id, winners[0], args)
            if winners:
                # ties (ambiguous call / prototype+definition) keep every
                # edge, matching the reference's multi-invokes
                for fn in winners:
                    self.edge(call_id, "CALLS", fn["decl_id"])
                    self.edge(fn["decl_id"], "DFG", call_id)
                self._dfg_args_to_params(args, winners[0]["decl_id"])
                # the call's evaluated type is the invoked function's
                # return type (CallExpression TypeListener semantics);
                # C++ path only — the Java fixture edge profiles are
                # pinned without it
                rts = {f.get("ret_type") for f in winners}
                if self.dialect == "cpp" and len(rts) == 1 and None not in rts:
                    self.eval_type(call_id, rts.pop())
            else:
                # base_type = enclosing record (if any): an unqualified
                # call inside a method is an implicit-this call first
                # (JLS 15.12.1 / CallResolver method scope), so the link
                # stage can match inherited methods through the supertype
                # walk before falling back to free functions
                self.out.mentions.append(self._mention(
                    call_id, "call", name, base_type=rec_name or None,
                    scopes=scopes,
                    n_args=len(args), n_kwargs=0,
                    arg_ids=[a["arg_id"] for a in args],
                    arg_types=[a.get("type") for a in args]))
        for mid, attr, base_name, scopes, args, access, seq in \
                self.pending_members:
            base_type = None
            is_super = False
            if base_name in ("this", "super"):
                rec_s = None
                for s in scopes:
                    if s.kind == "record":
                        rec_s = s
                if base_name == "this":
                    base_type = rec_s.name if rec_s else None
                else:
                    # super.member: the enclosing record's FIRST supertype
                    # (java `extends` precedes `implements`) — SuperCallTest:
                    # super.target() binds SuperClass.target, super.field
                    # binds SuperClass.field
                    is_super = True
                    enc = self.records.get(rec_s.name) if rec_s else None
                    base_type = (enc["supers"][0]
                                 if enc and enc["supers"] else None)
            elif base_name and base_name.startswith("this:"):
                # qualified this: members of the named enclosing class
                base_type = base_name.split(":", 1)[1] or None
            elif base_name and base_name.startswith("scope:"):
                # `X::member` scope qualifier: the base IS the type name,
                # known locally or not (cross-doc static members)
                base_type = base_name.split(":", 1)[1] or None
            elif base_name and base_name.startswith("super:"):
                # qualified super (JLS 15.12.1): when X is a CLASS (inner
                # class referencing its enclosing class), X.super.m() binds
                # X's superclass method; when X is an interface,
                # Interface1.super.m() binds the interface's own default
                # method.  Known-record-with-supers approximates "class"
                # for the subset parser.
                is_super = True
                qual = base_name.split(":", 1)[1] or None
                qrec = self.records.get(qual) if qual else None
                base_type = (qrec["supers"][0]
                             if qrec and qrec["supers"] else qual)
            elif base_name:
                bd = self._lookup(scopes, base_name, seq)
                if bd is not None:
                    base_type = (bd.get("type") or "").rstrip("*[]") or None
                elif base_name in self.imports:
                    base_type = self.imports[base_name]
                elif base_name in self.records:
                    base_type = base_name  # static member access
            rec = self.records.get(base_type) if base_type else None
            if access == "call":
                winners = (self._method_winners(base_type, attr, args)
                           if base_type else [])
                if winners:
                    # explicit super calls are marked on the edge so the
                    # link-stage override dispatch skips them — a
                    # super.target() call must NOT re-invoke the override
                    # (SuperCallTest)
                    props = {"super": "true"} if is_super else None
                    for fn in winners:
                        self.edge(mid, "CALLS", fn["decl_id"], props)
                        self.edge(fn["decl_id"], "DFG", mid)
                    self._dfg_args_to_params(args, winners[0]["decl_id"])
                else:
                    self.out.mentions.append(self._mention(
                        mid, "super_call" if is_super else "member_call",
                        attr, base_type=base_type,
                        scopes=scopes, n_args=len(args or []), n_kwargs=0,
                        arg_ids=[a["arg_id"] for a in (args or [])],
                        arg_types=[a.get("type") for a in (args or [])]))
            else:
                hint = self._ref_sig_hint.get(mid)
                if hint is not None:
                    # `&A::target` — method reference behind a
                    # pointer-to-member: signature-directed selection
                    # (FunctionPointerTest func_ptr.cpp)
                    wins = []
                    if base_type:
                        wins = [f for f in self._method_winners(
                            base_type, attr,
                            [{"type": t, "index": i}
                             for i, t in enumerate(hint)])
                            if (f.get("n_params") or 0) == len(hint)]
                    if wins:
                        fn = wins[0]
                        self.edge(mid, "REFERS_TO", fn["decl_id"])
                        self.edge(fn["decl_id"], "DFG", mid)
                        continue
                    if self._find_field(rec, attr) is None:
                        self.out.mentions.append(self._mention(
                            mid, "member_ref", attr, base_type=base_type,
                            scopes=scopes, n_args=len(hint), n_kwargs=0,
                            arg_types=[t or None for t in hint]))
                        continue
                    # declared field (member-pointer copy) — fall through
                fid = self._find_field(rec, attr)
                if fid is not None:
                    self.edge(mid, "REFERS_TO", fid)
                    if access == "write":
                        self.edge(mid, "DFG", fid)
                    else:
                        self.edge(fid, "DFG", mid)
                else:
                    self.out.mentions.append(self._mention(
                        mid, "member_ref", attr, base_type=base_type,
                        scopes=scopes))

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
    def _static_member_modules(self, mod: str | None, rec: str) -> set:
        """Module keys a Java static member is importable under: the
        bare class name (default package: ``import static A.test``) and
        the package-qualified one (``import static p.A.test``)."""
        if self._pkg_declared:
            return {f"{self.module_name}.{rec}"}
        if mod and mod != self.module_name:
            return {f"{mod}.{rec}"}
        return {rec}

    def _export_symbols(self):
        for fid, info in self._functions_by_id.items():
            mod = info.get("module") or self.module_name
            self.out.symbols.append({
                "decl_id": fid,
                "kind": "method" if info.get("record") else "function",
                "name": info["name"],
                "fqn": (f"{mod}.{info['record']}.{info['name']}"
                        if info.get("record")
                        else f"{mod}.{info['name']}"),
                "record": info.get("record"),
                "module": mod,
                "doc_id": self.doc_id,
                "n_params": info["n_params"],
                "n_defaults": info.get("n_defaults", 0),
                "is_variadic": info.get("is_variadic", False),
                "param_types": info.get("param_types"),
                "param_ids": info["param_ids"],
                "param_names": info["param_names"],
            })
            if (self.dialect == "java" and info.get("is_static")
                    and info.get("record")):
                # Java static method: ALSO importable as a module-level
                # symbol of the record-qualified "module" (JLS 7.5.3,
                # StaticImportsTest) — `import static A.test` then
                # resolves `test()` through the ordinary import gate
                for smod in self._static_member_modules(mod,
                                                        info["record"]):
                    self.out.symbols.append({
                        "decl_id": fid, "kind": "function",
                        "name": info["name"],
                        "fqn": f"{smod}.{info['name']}",
                        "record": None, "module": smod,
                        "doc_id": self.doc_id,
                        "n_params": info["n_params"],
                        "n_defaults": info.get("n_defaults", 0),
                        "is_variadic": info.get("is_variadic", False),
                        "param_types": info.get("param_types"),
                        "param_ids": info["param_ids"],
                        "param_names": info["param_names"],
                    })
        for rname, rec in self.records.items():
            rmod = rec.get("module") or self.module_name
            self.out.symbols.append({
                "decl_id": rec["decl_id"], "kind": "record", "name": rname,
                "fqn": f"{rmod}.{rname}", "record": None,
                "module": rmod, "doc_id": self.doc_id,
                "n_params": None, "has_defaults": None, "is_variadic": None,
                "param_ids": None, "param_names": None,
            })
            for fname, fid in rec["fields"].items():
                self.out.symbols.append({
                    "decl_id": fid, "kind": "field", "name": fname,
                    "fqn": f"{rmod}.{rname}.{fname}",
                    "record": rname, "module": rmod,
                    "doc_id": self.doc_id, "n_params": None,
                    "has_defaults": None, "is_variadic": None,
                    "param_ids": None, "param_names": None,
                })
                if (self.dialect == "java"
                        and fname in rec.get("field_statics", ())):
                    # static field: importable module-level var
                    # (StaticImportsTest `int y = test;`)
                    for smod in self._static_member_modules(rmod, rname):
                        self.out.symbols.append({
                            "decl_id": fid, "kind": "var", "name": fname,
                            "fqn": f"{smod}.{fname}",
                            "record": None, "module": smod,
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
        for mod, vname, d in self._extra_module_vars:
            # namespace-level vars, collected when the namespace closed
            self.out.symbols.append({
                "decl_id": d["decl_id"], "kind": "var", "name": vname,
                "fqn": f"{mod}.{vname}", "record": None,
                "module": mod, "doc_id": self.doc_id,
                "n_params": None, "has_defaults": None,
                "is_variadic": None, "param_ids": None,
                "param_names": None,
            })


def _parse_cfamily(doc_id, span_offset, source, module_name, dialect,
                   symbols=None):
    if module_name is None and dialect == "java":
        # Java visibility is the PACKAGE, not the file: files without a
        # ``package`` statement share the default package and see each
        # other without imports (JLS 7.4.2; the reference resolves across
        # same-package files with no ImportResolver involvement).  A
        # ``package a.b;`` statement overrides this during parse.
        module_name = "<default>"
    return parse_span(CFamilyFrontend, doc_id, span_offset, source,
                      module_name, (CFamilyParseError, RecursionError,
                                    IndexError),
                      dialect=dialect, symbols=symbols)


def parse_java_document(doc_id: str, span_offset: int, source: str,
                        module_name: str | None = None,
                        symbols: dict | None = None) -> DocGraph:
    return _parse_cfamily(doc_id, span_offset, source, module_name, "java",
                          symbols=symbols)


def parse_cpp_document(doc_id: str, span_offset: int, source: str,
                       module_name: str | None = None,
                       symbols: dict | None = None) -> DocGraph:
    return _parse_cfamily(doc_id, span_offset, source, module_name, "cpp",
                          symbols=symbols)
