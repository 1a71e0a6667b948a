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
        """Innermost-first walk of the scope stack — the reference's
        ``ScopeManager.resolveReference`` ordering ('local first',
        ``ScopeManager.kt:675-677``)."""
        for s in reversed(self.scopes):
            if name in s.decls:
                return s.decls[name]
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
