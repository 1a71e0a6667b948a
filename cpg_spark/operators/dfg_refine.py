"""Control-flow-sensitive DFG refinement (SURVEY.md C3).

Re-derivation of the reference's ControlFlowSensitiveDFGPass
(``cpg-core/.../passes/ControlFlowSensitiveDFGPass.java:62-517``): a
per-function fixpoint of reaching definitions over the EOG; at join
points the states merge (``mergeStates`` :473-499), and decl-mediated
DFG edges (decl -> read-ref) are replaced by direct def->use edges
(last-writing ref -> read-ref), removing the coarse ones (:83-89,
167-194).  Like the reference, tracking is variable-level and
field-insensitive (:43-46).

Spark shape: documents are bounded, functions are small — the kernel
runs inside ``applyInArrow`` over a **cogroup by doc_id** (nodes x
edges), zero driver involvement, shuffle keyed on doc_id only; each
group arrives as Arrow tables and the delta leaves as one.  Output is a
delta stream: ``action='add'`` rows (direct def->use edges) and
``action='remove'`` rows (stale coarse edges); the caller filters on
``action`` and applies

    refined = edges UNION adds LEFT ANTI JOIN removes

which is the immutable-DataFrame form of the reference's in-place
``removePrevDFG`` rewiring (``Node.kt:168-185``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DELTA_SCHEMA = T.StructType([
    T.StructField("action", T.StringType(), False),  # add | remove
    T.StructField("subj", T.LongType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.LongType(), False),
    T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("doc_id", T.StringType(), True),
])

_DECL_LABELS = {"VariableDeclaration", "ParamVariableDeclaration"}
_FN_LABELS = {"FunctionDeclaration", "MethodDeclaration",
              "ConstructorDeclaration", "NamespaceDeclaration"}


def _refine_doc(doc_id: str, labels: dict, edges: list[dict]) -> list[dict]:
    """Pure-python reaching-definitions refinement for one document."""
    # index edges by predicate
    eog: dict[str, list[str]] = {}
    eog_nodes: set[str] = set()
    ast_parent: dict[str, str] = {}
    refers: dict[str, str] = {}          # ref -> decl
    reads: dict[str, list[str]] = {}     # decl -> [read refs]
    writes_by_ref: dict[str, str] = {}   # write-ref -> decl
    for e in edges:
        p = e["pred"]
        if p == "EOG":
            eog.setdefault(e["subj"], []).append(e["obj"])
            eog_nodes.add(e["subj"])
            eog_nodes.add(e["obj"])
        elif p == "AST":
            ast_parent[e["obj"]] = e["subj"]
        elif p == "REFERS_TO":
            if labels.get(e["obj"]) in _DECL_LABELS:
                refers[e["subj"]] = e["obj"]
    for e in edges:
        if e["pred"] != "DFG":
            continue
        s, o = e["subj"], e["obj"]
        if refers.get(s) == o:
            writes_by_ref[s] = o          # write access: ref -> decl
        elif refers.get(o) == s and labels.get(s) in _DECL_LABELS:
            reads.setdefault(s, []).append(o)  # read access: decl -> ref

    if not writes_by_ref or not eog_nodes:
        return []

    def stmt_of(node: str) -> str | None:
        seen = 0
        cur = node
        while cur is not None and seen < 64:
            if cur in eog_nodes:
                return cur
            cur = ast_parent.get(cur)
            seen += 1
        return None

    # per-statement read/write sets
    stmt_reads: dict[str, list[tuple[str, str]]] = {}
    stmt_writes: dict[str, list[tuple[str, str]]] = {}
    for decl, refs in reads.items():
        for r in refs:
            s = stmt_of(r)
            if s:
                stmt_reads.setdefault(s, []).append((decl, r))
    for wref, decl in writes_by_ref.items():
        s = stmt_of(wref)
        if s:
            stmt_writes.setdefault(s, []).append((decl, wref))
    # a VariableDeclaration with outgoing reads is its own initial writer
    # at its statement (initializer def)
    for decl in reads:
        s = stmt_of(decl)
        if s:
            stmt_writes.setdefault(s, []).append((decl, decl))

    # function entry nodes: the function/namespace declarations double as
    # entry AND exit sentinel (build_eog), so the graph contains a cycle
    # exit-stmt -> fn -> first-stmt; roots are the fn-labelled nodes, and
    # state never propagates INTO them (breaks the spurious back edge)
    roots = [n for n in eog_nodes if labels.get(n) in _FN_LABELS]
    if not roots:
        incoming: set[str] = set()
        for tgts in eog.values():
            incoming.update(tgts)
        roots = [n for n in eog_nodes if n not in incoming]

    # fixpoint: state[node] = {decl: frozenset(writers)} BEFORE the node
    # (ControlFlowSensitiveDFGPass.iterateTillFixpoint :255-318)
    from collections import deque

    state_in: dict[str, dict[str, frozenset]] = {}
    use_defs: dict[str, set[tuple[str, str]]] = {}  # read-ref -> {(writer)}
    work = deque(roots)
    guard = 0
    max_steps = 50 * max(len(eog_nodes), 1)
    while work and guard < max_steps:
        guard += 1
        n = work.popleft()
        st = dict(state_in.get(n, {}))
        # reads first (a = a + 1 reads the pre-state; delayed-assignment
        # semantics :326-360)
        for decl, r in stmt_reads.get(n, []):
            writers = st.get(decl)
            if writers:
                use_defs.setdefault(r, set()).update(
                    (w, decl) for w in writers)
        for decl, wref in stmt_writes.get(n, []):
            st[decl] = frozenset([wref])
        for succ in eog.get(n, []):
            if labels.get(succ) in _FN_LABELS:
                continue  # exit sentinel: no flow back into the entry
            prev = state_in.get(succ)
            merged = dict(prev or {})
            changed = prev is None
            for decl, writers in st.items():
                old = merged.get(decl, frozenset())
                new = old | writers
                if new != old:
                    merged[decl] = new
                    changed = True
            if changed:
                state_in[succ] = merged
                work.append(succ)

    out: list[dict] = []
    empty: dict = {}
    for r, writer_pairs in use_defs.items():
        decls = {d for _, d in writer_pairs}
        writers = {w for w, _ in writer_pairs}
        # writers that are the decl itself mean "initializer reaches" —
        # the coarse decl->ref edge already expresses that def
        direct = writers - decls
        if not direct:
            continue
        for w in sorted(direct):
            out.append({"action": "add", "subj": w, "pred": "DFG", "obj": r,
                        "props": {"refined": "true"}, "doc_id": doc_id})
        if not (writers & decls):
            # no path on which the initializer is the last def -> the
            # coarse decl->ref edge is stale; remove it (:83-89)
            for d in sorted(decls):
                out.append({"action": "remove", "subj": d, "pred": "DFG",
                            "obj": r, "props": empty, "doc_id": doc_id})
    return out


def refine_dfg_delta(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """The raw delta stream (action, subj, pred, obj, props, doc_id) —
    materialize this ONCE; filtering adds/removes from the committed table
    avoids running the kernel twice."""
    # only decl/function labels are ever consulted by the kernel — pruning
    # the node side cuts the cogroup shuffle by ~80%
    n = nodes.filter(F.col("label").isin(*(_DECL_LABELS | _FN_LABELS))) \
        .select("doc_id", "node_id", "label")
    e = edges.filter(F.col("pred").isin("EOG", "AST", "REFERS_TO", "DFG")) \
        .select("doc_id", "subj", "pred", "obj")

    arrow_schema = to_arrow_schema(DELTA_SCHEMA)

    def run(key, ntbl, etbl):
        labels = dict(zip(ntbl.column("node_id").to_pylist(),
                          ntbl.column("label").to_pylist()))
        rows = _refine_doc(key[0].as_py(), labels, etbl.to_pylist())
        return pa.Table.from_pylist(rows, schema=arrow_schema)

    return (
        n.groupBy("doc_id")
        .cogroup(e.groupBy("doc_id"))
        .applyInArrow(run, schema=DELTA_SCHEMA)
    )


def apply_refinement(edges: DataFrame, adds: DataFrame,
                     removes: DataFrame) -> DataFrame:
    """edges ∪ adds − removes (left_anti on the triple — SURVEY O5)."""
    kept = edges.join(
        removes.select("subj", "pred", "obj"),
        ["subj", "pred", "obj"], "left_anti",
    )
    return kept.unionByName(adds.select(*kept.columns))
