"""Shared emitter infrastructure for language frontends.

A frontend walks a parse tree and *emits rows* (nodes, edges, mentions,
exported symbols) instead of building a mutable object graph like the
reference does.  The row vocabulary — labels, predicates, edge property keys
— matches the reference's persisted Neo4j model (SURVEY.md §1.1):

* node labels = reference node class simple names
  (``cpg-core/.../graph/declarations|statements|types``),
* edge ``pred`` = ``@Relationship`` annotation values / materialized edge
  types (AST, EVAL_TYPE, DFG, EOG, REFERS_TO, CALLS/INVOKES ...),
* edge ``props`` keys = ``graph/edge/Properties.java:43-49``
  (index, branch, name, unreachable) plus ``field`` for the AST field name.

DFG direction convention: an edge (a, DFG, b) means "data flows a -> b",
i.e. the reference's ``b.addPrevDFG(a)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from cpg_spark.ids import node_id as _hash_node_id, type_id


@dataclass
class DocGraph:
    """Everything one document's parse emits.

    ``id_log`` maps every minted location-derived node id back to its
    (ast_path, label) key — the relocation table for pre-parse span dedup
    (SURVEY S3): a graph parsed once under a sentinel document can be
    re-keyed to any (doc_id, span_offset) by re-hashing the logged paths.
    Content-derived ids (type_id / inferred_id) are doc-independent and
    deliberately absent."""

    nodes: list = field(default_factory=list)
    edges: list = field(default_factory=list)
    mentions: list = field(default_factory=list)
    symbols: list = field(default_factory=list)
    id_log: dict = field(default_factory=dict)

    def extend(self, other: "DocGraph") -> None:
        self.nodes.extend(other.nodes)
        self.edges.extend(other.edges)
        self.mentions.extend(other.mentions)
        self.symbols.extend(other.symbols)
        self.id_log.update(other.id_log)

    def id_faults(self) -> list:
        """Breaches of the per-span id invariants: a node id emitted
        twice, or an edge endpoint that names no emitted node."""
        seen: set = set()
        faults = []
        for n in self.nodes:
            if n["node_id"] in seen:
                faults.append(("duplicate", n["node_id"], n["label"]))
            seen.add(n["node_id"])
        faults += [("dangling", e["subj"], e["pred"], e["obj"])
                   for e in self.edges
                   if e["subj"] not in seen or e["obj"] not in seen]
        return faults


def problem_graph(doc_id: str, span_offset: int, message,
                  problem: str) -> DocGraph:
    """The graph of a span its frontend cannot parse: one
    ProblemDeclaration node (the reference's error placeholder) instead
    of a failed batch.  Its id is logged like any location-derived id, so
    a relocated duplicate of the span gets its own id."""
    nid = _hash_node_id(doc_id, span_offset, "problem", "ProblemDeclaration")
    out = DocGraph(id_log={nid: ("problem", "ProblemDeclaration")})
    out.nodes.append({
        "node_id": nid, "label": "ProblemDeclaration",
        "name": str(message)[:200], "code": None,
        "doc_id": doc_id, "span_offset": span_offset, "loc": None,
        "is_inferred": False, "is_implicit": False, "argument_index": None,
        "props": {"problem": problem},
    })
    return out


def module_for_doc(doc_id: str) -> str:
    """Default module of a document: the directory segment that holds it
    (``py/pkg/0001`` -> ``pkg``), or the whole id when it has no '/'."""
    return doc_id.rsplit("/", 2)[-2] if "/" in doc_id else doc_id


def parse_span(frontend, doc_id: str, span_offset: int, source: str,
               module_name: str | None, errors: tuple, **kw) -> DocGraph:
    """Run one frontend over one span.  A failure in ``errors`` degrades
    to the span's problem graph, tagged with the name of ``errors[0]``
    (the frontend's own parse error), instead of failing the batch."""
    if module_name is None:
        module_name = module_for_doc(doc_id)
    fe = frontend(doc_id, span_offset, source, module_name, **kw)
    try:
        return fe.run()
    except errors as e:
        return problem_graph(doc_id, span_offset, e, errors[0].__name__)


class Tok:
    __slots__ = ("kind", "text", "line", "col")

    def __init__(self, kind, text, line, col):
        self.kind = kind
        self.text = text
        self.line = line
        self.col = col

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Tok({self.kind},{self.text!r}@{self.line}:{self.col})"


class Scope:
    """One lexical scope frame (module / record / function).

    The reference's ScopeManager keeps a mutable scope tree
    (``cpg-core/.../passes/scopes/ScopeManager.kt``); here a frontend keeps a
    simple stack of dicts, which is enough for the frontend-time resolution
    the reference does during parsing (``scopemanager.resolveReference`` in
    ``_statements.py:501``).  Cross-document resolution happens later via
    DataFrame joins.
    """

    __slots__ = ("kind", "name", "decls", "node_id")

    def __init__(self, kind: str, name: str, node_id: str | None):
        self.kind = kind  # 'module' | 'record' | 'function' | 'block'
        self.name = name
        self.node_id = node_id
        # name -> dict(decl_id, kind, type, ...)
        self.decls: dict[str, dict] = {}


class Emitter:
    """Accumulates rows for one document span and manages ids/locations."""

    def __init__(self, doc_id: str, span_offset: int, source: str, module_name: str):
        self.doc_id = doc_id
        self.span_offset = span_offset
        self.source = source
        self.module_name = module_name
        self.out = DocGraph()
        self.scopes: list[Scope] = []
        self._emitted_types: set[str] = set()
        # uses awaiting end-of-document resolution (_resolve_locally):
        # refs (id, name, scopes, access), calls (id, name, scopes, args),
        # members (id, attr, base_name, scopes, args, access)
        self.pending_refs: list = []
        self.pending_calls: list = []
        self.pending_members: list = []
        self.records: dict[str, dict] = {}   # name -> {decl_id, methods, fields}
        self.imports: dict[str, str] = {}    # local alias -> module
        self._functions_by_id: dict[str, dict] = {}
        # monotonically increasing parse-order counter: declarations stamp
        # it and references capture it, so deferred resolution can honour
        # the point-of-declaration rule inside function/block scopes
        # (ScopeManager.kt resolve happens against the live scope tree;
        # we replay the same visibility from the stamps)
        self._seq = 0
        # precompute line start offsets for fast code-snippet slicing
        self._line_starts = [0]
        for ln in source.split("\n")[:-1]:
            self._line_starts.append(self._line_starts[-1] + len(ln) + 1)

    # ----- ids ------------------------------------------------------------
    def make_id(self, path: str, label: str) -> str:
        nid = _hash_node_id(self.doc_id, self.span_offset, path, label)
        self.out.id_log[nid] = (path, label)
        return nid

    # ----- source snippets ------------------------------------------------
    def snippet(self, start_line: int, start_col: int, end_line: int, end_col: int) -> str:
        """1-based lines, 0-based cols (Python ast convention)."""
        try:
            a = self._line_starts[start_line - 1] + start_col
            b = self._line_starts[end_line - 1] + end_col
            return self.source[a:b]
        except IndexError:
            return ""

    # ----- node / edge emission -------------------------------------------
    def node(
        self,
        path: str,
        label: str,
        name: str = "",
        loc=None,  # (start_line, start_col, end_line, end_col) or None
        code: str | None = None,
        is_inferred: bool = False,
        is_implicit: bool = False,
        argument_index: int | None = None,
        props: dict | None = None,
    ) -> str:
        nid = self.make_id(path, label)
        if code is None and loc is not None:
            code = self.snippet(*loc)
        self.out.nodes.append(
            {
                "node_id": nid,
                "label": label,
                "name": name,
                "code": code,
                "doc_id": self.doc_id,
                "span_offset": self.span_offset,
                "loc": {
                    "start_line": loc[0],
                    "start_col": loc[1],
                    "end_line": loc[2],
                    "end_col": loc[3],
                }
                if loc
                else None,
                "is_inferred": is_inferred,
                "is_implicit": is_implicit,
                "argument_index": argument_index,
                "props": props or {},
            }
        )
        return nid

    def edge(self, subj: str, pred: str, obj: str, props: dict | None = None) -> None:
        self.out.edges.append(
            {
                "subj": subj,
                "pred": pred,
                "obj": obj,
                "props": {k: str(v) for k, v in (props or {}).items()},
                "doc_id": self.doc_id,
            }
        )

    def ast_edge(self, parent: str, child: str, fld: str, index: int | None = None) -> None:
        props = {"field": fld}
        if index is not None:
            props["index"] = index
        self.edge(parent, "AST", child, props)

    def type_node(self, type_name: str) -> str:
        """Emit-once type node; canonical id from the normalized name
        (reference TypeResolver dedups equal Types into one node,
        ``core/passes/TypeResolver.java:140-160`` — content-hash ids give us
        that for free for first-order types).

        A parameterized spelling (``List<String>``, ``Map<K,List<V>>``)
        additionally links GENERICS edges to each of its argument types
        (``ObjectType.java:82`` ``@Relationship("GENERICS")``), recursively
        — so "fields of type List<String>" is answerable structurally
        (raw type + argument walk) instead of by string matching.  Ids are
        content hashes of the normalized spelling, so the same generic
        instantiation in any document converges on one node + one edge
        set after dedup."""
        tid = type_id(type_name)
        if type_name not in self._emitted_types:
            self._emitted_types.add(type_name)
            lt = type_name.find("<")
            gt = type_name.rfind(">")
            parameterized = lt != -1 and gt > lt
            from cpg_spark.frontends.typeparser import erase_generics

            # reference parity (TypeParser.java:838 removeGenerics): a
            # parameterized ObjectType's NAME is the erased raw name; the
            # id still hashes the full spelling, so each instantiation is
            # its own node (the reference's per-object identity)
            display = erase_generics(type_name) if parameterized else type_name
            self.out.nodes.append(
                {
                    "node_id": tid,
                    "label": "Type",
                    "name": display,
                    "code": type_name,
                    "doc_id": self.doc_id,
                    "span_offset": self.span_offset,
                    "loc": None,
                    "is_inferred": False,
                    "is_implicit": True,
                    "argument_index": None,
                    "props": {"spelling": type_name} if parameterized else {},
                }
            )
            if parameterized:
                from cpg_spark.frontends.typeparser import _split_generics

                if display:
                    # link the instantiation to the bare raw type node
                    # (the node records/hierarchy reference by name)
                    self.edge(tid, "RAW_TYPE", self.type_node(display))
                for i, arg in enumerate(
                        a.strip() for a in
                        _split_generics(type_name[lt + 1:gt])):
                    if arg:
                        self.edge(tid, "GENERICS", self.type_node(arg),
                                  {"index": i})
        return tid

    def eval_type(self, expr_id: str, type_name: str) -> None:
        self.edge(expr_id, "EVAL_TYPE", self.type_node(type_name))

    # ----- scopes -----------------------------------------------------------
    def enter_scope(self, kind: str, name: str, node_id: str | None) -> Scope:
        s = Scope(kind, name, node_id)
        self.scopes.append(s)
        return s

    def leave_scope(self) -> None:
        self.scopes.pop()

    def tick(self) -> int:
        """Next parse-order stamp (shared by declarations and references)."""
        self._seq += 1
        return self._seq

    def declare(self, name: str, decl_id: str, kind: str, tpe: str | None = None) -> None:
        self.scopes[-1].decls[name] = {
            "decl_id": decl_id, "kind": kind, "type": tpe, "seq": self.tick()}

    def resolve(self, name: str):
        return self._lookup(self.scopes, name)

    @staticmethod
    def _lookup(scopes, name, seq=None):
        """Innermost-first walk of a scope stack — the reference's
        ``ScopeManager.resolveReference`` ordering ('local first',
        ``ScopeManager.kt:675-677``).  With a parse-order ``seq`` it also
        honours the point-of-declaration rule: inside function/block
        scopes a declaration is visible only to references parsed AFTER
        it (C++/Java local semantics); record and module scopes are
        order-independent (class members bind from the whole body — the
        reference's two-phase parse-then-resolve)."""
        for s in reversed(scopes):
            d = s.decls.get(name)
            if d is None:
                continue
            if (seq is not None and s.kind in ("function", "block")
                    and d.get("seq", 0) > seq):
                continue  # declared later in this scope — not visible here
            return d
        return None

    def scope_path(self) -> str:
        return ".".join(s.name for s in self.scopes if s.name)

    def in_record(self) -> bool:
        return any(s.kind == "record" for s in self.scopes)

    def in_function(self) -> bool:
        return any(s.kind == "function" for s in self.scopes)

    def current_record(self) -> Scope | None:
        for s in reversed(self.scopes):
            if s.kind == "record":
                return s
        return None

    def current_function(self) -> Scope | None:
        for s in reversed(self.scopes):
            if s.kind == "function":
                return s
        return None

    # ----- end-of-document resolution ---------------------------------------
    def _mention(self, mid, kind, name, base_type=None, scopes=None,
                 n_args=None, arg_ids=None, n_kwargs=None, **extra):
        """One use left for the cross-document linker; ``extra`` carries
        frontend-specific columns (the C-family ``arg_types``)."""
        return {
            "mention_id": mid, "kind": kind, "name": name,
            "base_type": base_type,
            "scope_path": ".".join(s.name for s in (scopes or []) if s.name)
            or self.module_name,
            "doc_id": self.doc_id,
            "n_args": n_args, "n_kwargs": n_kwargs, "arg_ids": arg_ids,
            **extra,
        }

    def _drop_pending_ref(self, nid: str) -> None:
        self.pending_refs = [p for p in self.pending_refs if p[0] != nid]

    def _mark_write(self, nid: str, members: bool = True) -> None:
        """Turn the pending use ``nid`` into a write (the access slot of a
        ref or member tuple); ``members=False`` leaves member uses reads."""
        for j, p in enumerate(self.pending_refs):
            if p[0] == nid:
                self.pending_refs[j] = p[:3] + ("write",) + p[4:]
        if members:
            for j, p in enumerate(self.pending_members):
                if p[0] == nid:
                    self.pending_members[j] = p[:5] + ("write",) + p[6:]

    def _dfg_args_to_params(self, args, fn_id, fn_info=None):
        """DFG argument -> parameter (Util.java:321-342): positional by
        index, keyword args by parameter name."""
        if fn_info is None:
            fn_info = self._functions_by_id.get(fn_id)
        if not fn_info:
            return
        pids = fn_info.get("param_ids") or []
        pnames = fn_info.get("param_names") or []
        for a in args or []:
            kw = a.get("kw")
            if kw is not None:
                if kw in pnames:
                    self.edge(a["arg_id"], "DFG", pids[pnames.index(kw)])
            elif a["index"] < len(pids):
                self.edge(a["arg_id"], "DFG", pids[a["index"]])

    def _arity(self, args):
        """(n_args, n_kwargs) of an unresolved call's mention."""
        n = sum(1 for a in args if a.get("kw") is None)
        return n, len(args) - n

    def _member_base_type(self, base_name, scopes):
        """Declared type of a member access's base name, or None."""
        bd = self._lookup(scopes, base_name)
        return bd.get("type") if bd is not None else None

    @staticmethod
    def _find_method(rec, name):
        if name in rec["methods"]:
            return rec["methods"][name][0]
        return None

    @staticmethod
    def _find_field(rec, name):
        return rec["fields"].get(name)

    def _unresolved_member_ref(self, mid, attr, base_type, rec, scopes):
        self.out.mentions.append(self._mention(
            mid, "member_ref", attr, base_type=base_type, scopes=scopes))

    def _resolve_locally(self):
        """End-of-document resolution against the now-complete local symbol
        tables — the zero-shuffle fast path for what the reference does in
        whole-graph passes (VariableUsageResolver.java:86-116,
        CallResolver.java:63-130).  Only survivors become mention rows."""
        for ref_id, name, scopes, access in self.pending_refs:
            d = self._lookup(scopes, name)
            if d is not None:
                self.edge(ref_id, "REFERS_TO", d["decl_id"])
                if access == "write":
                    self.edge(ref_id, "DFG", d["decl_id"])
                else:
                    self.edge(d["decl_id"], "DFG", ref_id)
                if d.get("type"):
                    self.eval_type(ref_id, d["type"])
            elif name not in self.imports:
                # an import alias is linked through its member accesses
                self.out.mentions.append(
                    self._mention(ref_id, "ref", name, scopes=scopes))
        for call_id, name, scopes, args in self.pending_calls:
            d = self._lookup(scopes, name)
            if d is not None and d["kind"] == "function":
                fid = d["decl_id"]
                self.edge(call_id, "CALLS", fid)
                self.edge(fid, "DFG", call_id)  # CallExpression.java:142-157
                self._dfg_args_to_params(args, fid, d.get("fn"))
            else:
                # bare name: the linker's visibility gate joins the doc's
                # import modules
                n_args, n_kwargs = self._arity(args)
                self.out.mentions.append(self._mention(
                    call_id, "call", name, scopes=scopes, n_args=n_args,
                    n_kwargs=n_kwargs, arg_ids=[a["arg_id"] for a in args]))
        for mid, attr, base_name, scopes, args, access in self.pending_members:
            base_type = (self._member_base_type(base_name, scopes)
                         if base_name else None)
            rec = self.records.get(base_type) if base_type else None
            if access == "call":
                # member call: resolve against methods of the base record
                target = self._find_method(rec, attr) if rec else None
                if target is not None:
                    self.edge(mid, "CALLS", target)
                    self.edge(target, "DFG", mid)
                    self._dfg_args_to_params(args, target)
                else:
                    n_args, n_kwargs = self._arity(args or [])
                    self.out.mentions.append(self._mention(
                        mid, "member_call", attr, base_type=base_type,
                        scopes=scopes, n_args=n_args, n_kwargs=n_kwargs,
                        arg_ids=[a["arg_id"] for a in (args or [])]))
            else:
                fid = self._find_field(rec, attr) if rec else None
                if fid is not None:
                    self.edge(mid, "REFERS_TO", fid)
                    if access == "write":
                        self.edge(mid, "DFG", fid)
                    else:
                        self.edge(fid, "DFG", mid)
                else:
                    self._unresolved_member_ref(mid, attr, base_type, rec,
                                                scopes)


class TokenFrontend(Emitter):
    """Recursive-descent frontend over a token list that ends in exactly
    one ``eof`` token.  A subclass sets ``ParseError`` (and
    ``EXPECT_MSG`` to keep its own error text)."""

    ParseError = Exception
    EXPECT_MSG = "line {t.line}: expected {want}, got {t.kind} {t.text!r}"

    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str, toks: list):
        super().__init__(doc_id, span_offset, source, module_name)
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Tok:
        j = min(self.i + k, len(self.toks) - 1)
        return self.toks[j]

    def next(self) -> Tok:
        t = self.toks[self.i]
        if t.kind != "eof":
            self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (text is None or t.text == text):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.peek()
        if t.kind != kind or (text is not None and t.text != text):
            raise self.ParseError(
                self.EXPECT_MSG.format(want=text or kind, t=t))
        return self.next()

    def skip_semis(self) -> None:
        while self.peek().kind == ";":
            self.next()

    def _stacks(self) -> tuple:
        """Parse-state stacks a failed declaration must unwind."""
        return (self.scopes,)

    def _guard_top(self, fn, *args, **kw):
        """Run one top-level declaration parse; on failure emit a
        ProblemDeclaration (the reference's ProblemDeclaration.java — one
        per failed construct) anchored at the failing token, unwind the
        stacks the parse grew, and resync.  Returns ``fn``'s result, or
        the problem node's id."""
        start_i = self.i
        marks = [(s, len(s)) for s in self._stacks()]
        try:
            return fn(*args, **kw)
        except (self.ParseError, IndexError, RecursionError) as e:
            for s, n in marks:
                del s[n:]
            t = self.toks[min(start_i, len(self.toks) - 1)]
            pid = self.node(self._p("problem"), "ProblemDeclaration",
                            str(e)[:200], self._tloc(t),
                            props={"problem": self.ParseError.__name__})
            if self.i <= start_i:
                self.i = start_i + 1
            self._sync_toplevel()
            return pid

    def _sync_toplevel(self) -> None:
        """Panic-mode resynchronisation after a declaration-level parse
        error: consume up to and including the next ';' at brace depth 0
        or the '}' that closes the current construct, so the rest of the
        document still parses (CDT recovers per-declaration the same
        way — one bad prototype yields one problem node, not a dead
        file)."""
        depth = 0
        while True:
            t = self.peek()
            if t.kind == "eof":
                return
            if t.text == "{":
                depth += 1
            elif t.text == "}":
                self.next()
                if depth <= 1:
                    return
                depth -= 1
                continue
            elif t.kind == ";" and depth == 0:
                self.next()
                return
            self.next()
