"""Evaluation-Order-Graph (EOG) construction over emitted statement trees.

Language-independent analogue of the reference's EvaluationOrderGraphPass
(``cpg-core/.../passes/EvaluationOrderGraphPass.java:73-1131``): builds
ordered ``EOG`` edges with ``index`` properties (``:917-924``), ``branch``
true/false on conditional branches (``:1031-1059``) and loop back-edges
(``connectCurrentToLoopStart``, ``:890-905``).

Runs entirely inside the parse UDF (function-local, zero shuffle — SURVEY.md
C1).  Frontends hand it a lightweight *shadow tree* of dicts:

    {"kind": "plain",   "nid": ...}
    {"kind": "if",      "nid": ..., "cond": id, "then": [infos], "orelse": [infos] | None}
    {"kind": "while",   "nid": ..., "cond": id, "body": [infos]}
    {"kind": "dowhile", "nid": ..., "cond": id, "body": [infos]}
    {"kind": "foreach", "nid": ..., "body": [infos]}
    {"kind": "return",  "nid": ...}
    {"kind": "break",   "nid": ..., "label": name | None}
    {"kind": "continue","nid": ..., "label": name | None}
    {"kind": "label",   "nid": ..., "name": ..., "sub": info | None}
    {"kind": "compound","nid": ..., "stmts": [infos]}
    {"kind": "try",     "nid": ..., "body": [infos], "final": [infos]}

``break`` binds the innermost enclosing loop OR switch (its own break
frame, like the reference's per-statement break/continue collection in
``EvaluationOrderGraphPass.java`` handleBreakStatement); a labeled
``break lab`` / ``continue lab`` binds the loop labeled ``lab``
(LabelStatement handling, tested by the reference's
``dfg/LoopDFGs.java`` labeledBreakContinue scenario).  C-family switches
set ``"fallthrough": True`` so each case body flows into the next case
label; Go / PowerShell switches omit it (implicit break semantics).
"""

from __future__ import annotations


class EogBuilder:
    def __init__(self, emitter):
        self.em = emitter
        self.index = 0
        # break frames: {"label": str|None, "breaks": [node ids]} — pushed
        # by loops, switches and labeled statements
        self.break_frames: list[dict] = []
        # continue targets: {"label": str|None, "head": node id} per loop
        self.loop_heads: list[dict] = []
        self._pending_label: str | None = None
        # goto resolution is deferred to build_eog end (forward gotos) —
        # the reference registers an object listener per goto and fires
        # it when the label lands (EvaluationOrderGraphPass.java:754-762)
        self.gotos: list[tuple[str, str]] = []
        self.labels: dict[str, str] = {}

    def _edge(self, a: str, b: str, branch: str | None = None) -> None:
        props = {"index": self.index}
        if branch is not None:
            props["branch"] = branch
        self.em.edge(a, "EOG", b, props)
        self.index += 1

    def connect(self, preds: list[tuple[str, str | None]], target: str) -> None:
        for pid, branch in preds:
            self._edge(pid, target, branch)

    def _push_loop(self, head: str) -> dict:
        """Open a loop's break frame + continue target; consumes the
        pending label of an enclosing LabelStatement (``lab1: while``)."""
        label = self._pending_label
        self._pending_label = None
        frame = {"label": label, "breaks": []}
        self.break_frames.append(frame)
        self.loop_heads.append({"label": label, "head": head})
        return frame

    def _pop_loop(self, frame: dict) -> list[str]:
        self.break_frames.pop()
        self.loop_heads.pop()
        return frame["breaks"]

    def _find_break_frame(self, label: str | None) -> dict | None:
        for frame in reversed(self.break_frames):
            if label is None or frame["label"] == label:
                return frame
        return None

    def _find_loop_head(self, label: str | None) -> str | None:
        for entry in reversed(self.loop_heads):
            if label is None or entry["label"] == label:
                return entry["head"]
        return None

    def _entry(self, info: dict) -> str:
        """EOG entry node of a statement — the node ``stmt`` would connect
        incoming edges to (conditions for branching forms, the statement
        node otherwise)."""
        kind = info["kind"]
        if kind in ("if", "while", "foreach", "switch"):
            return info.get("cond") or info["nid"]
        if kind == "for":
            init = info.get("init")
            if init:
                return self._entry(init)
            return info.get("cond") or info["nid"]
        return info["nid"]

    def seq(self, infos: list[dict], preds: list) -> list:
        for info in infos:
            preds = self.stmt(info, preds)
        return preds

    def stmt(self, info: dict, preds: list) -> list:
        kind = info["kind"]
        nid = info["nid"]
        if kind == "compound":
            self.connect(preds, nid)
            return self.seq(info["stmts"], [(nid, None)])
        if kind == "if":
            cond = info.get("cond") or nid
            self.connect(preds, cond)
            exits = []
            then_stmts = info.get("then") or []
            if then_stmts:
                first = then_stmts[0]
                # branch=true edge into the then-branch entry
                head = [(cond, "true")]
                exits.extend(self.seq(then_stmts, head))
            else:
                exits.append((cond, "true"))
            orelse = info.get("orelse")
            if orelse:
                exits.extend(self.seq(orelse, [(cond, "false")]))
            else:
                exits.append((cond, "false"))
            return exits
        if kind in ("while", "foreach"):
            head = info.get("cond") or nid
            self.connect(preds, head)
            frame = self._push_loop(head)
            body_exits = self.seq(info.get("body") or [], [(head, "true")])
            # loop back-edge (EvaluationOrderGraphPass.java:890-905)
            self.connect(body_exits, head)
            breaks = self._pop_loop(frame)
            norm = [(head, "false")]
            if info.get("orelse"):
                # python loop-`else`: runs on normal exit only — breaks
                # bypass it and merge after (full-fidelity python frontend)
                norm = self.seq(info["orelse"], norm)
            return norm + [(b, None) for b in breaks]
        if kind == "for":
            # 3-clause for (EvaluationOrderGraphPass.java:953-1029):
            # preds -> init -> cond -(true)-> body -> post -> cond; exit on
            # cond false (plus breaks)
            init = info.get("init")
            if init:
                preds = self.stmt(init, preds)
            head = info.get("cond") or nid
            self.connect(preds, head)
            frame = self._push_loop(head)
            body_exits = self.seq(info.get("body") or [], [(head, "true")])
            post = info.get("post")
            if post:
                body_exits = self.stmt(post, body_exits)
            self.connect(body_exits, head)
            breaks = self._pop_loop(frame)
            return [(head, "false")] + [(b, None) for b in breaks]
        if kind == "dowhile":
            # body executes at least once: preds -> body -> cond; cond
            # true -> body entry (back edge), false -> exit
            # (EvaluationOrderGraphPass.java:953-976 handleDoStatement)
            head = info.get("cond") or nid
            self.connect(preds, nid)
            frame = self._push_loop(head)
            body = info.get("body") or []
            body_exits = self.seq(body, [(nid, None)])
            self.connect(body_exits, head)
            if body:
                self._edge(head, self._entry(body[0]), "true")
            breaks = self._pop_loop(frame)
            return [(head, "false")] + [(b, None) for b in breaks]
        if kind == "switch":
            # selector evaluates once, then branches to every case entry
            # (EvaluationOrderGraphPass.java handleSwitchStatement); the
            # switch owns a break frame (break binds switch-or-loop,
            # whichever is innermost).  With "fallthrough" (C/Java), each
            # case body's exits flow into the NEXT case label — the
            # reference gets this for free because case labels sit inline
            # in the body statement list; Go/PowerShell switches omit the
            # flag (implicit break)
            sel = info.get("cond") or nid
            self.connect(preds, sel)
            self._pending_label = None
            frame = {"label": None, "breaks": []}
            self.break_frames.append(frame)
            falls = bool(info.get("fallthrough"))
            exits: list = []
            carry: list = []
            has_default = False
            for case in info.get("cases") or []:
                cnid = case["nid"]
                lab = case.get("label_nid")
                if lab is not None:
                    # `lab: case 0:` — the selector branches through the
                    # LabelStatement, and gotos can land on it
                    if case.get("label"):
                        self.labels[case["label"]] = lab
                    self._edge(sel, lab)
                    self._edge(lab, cnid)
                else:
                    self._edge(sel, cnid)
                if falls:
                    self.connect(carry, cnid)
                body_exits = self.seq(case.get("stmts") or [],
                                      [(cnid, None)])
                if falls:
                    carry = body_exits
                else:
                    exits.extend(body_exits)
                if case.get("default"):
                    has_default = True
            if falls:
                exits.extend(carry)
            self.break_frames.pop()
            if not has_default:
                exits.append((sel, "false"))
            return exits + [(b, None) for b in frame["breaks"]]
        if kind == "label":
            # LabelStatement: a frame so `break <name>` on non-loop labeled
            # statements exits here; loops consume the pending label for
            # `continue <name>` targeting
            self.connect(preds, nid)
            if info.get("name"):
                self.labels[info["name"]] = nid
            sub = info.get("sub")
            frame = {"label": info.get("name"), "breaks": []}
            self.break_frames.append(frame)
            self._pending_label = info.get("name")
            exits = self.stmt(sub, [(nid, None)]) if sub else [(nid, None)]
            self._pending_label = None
            self.break_frames.remove(frame)
            return exits + [(b, None) for b in frame["breaks"]]
        if kind == "return":
            self.connect(preds, nid)
            return []
        if kind == "break":
            self.connect(preds, nid)
            frame = self._find_break_frame(info.get("label"))
            if frame is not None:
                frame["breaks"].append(nid)
            return []
        if kind == "continue":
            self.connect(preds, nid)
            head = self._find_loop_head(info.get("label"))
            if head is not None:
                self._edge(nid, head)
            return []
        if kind == "goto":
            # no fall-through (currentEOG.clear(),
            # EvaluationOrderGraphPass.java:761); target edge added when
            # the whole body has been walked so forward labels resolve
            self.connect(preds, nid)
            if info.get("name"):
                self.gotos.append((nid, info["name"]))
            return []
        if kind == "try":
            # EvaluationOrderGraphPass.handleTryStatement: body entry from
            # the try node; each CatchClause is reachable from the try
            # region (an exception may surface anywhere inside), its exits
            # merge with the normal exits into finally/next
            self.connect(preds, nid)
            exits = self.seq(info.get("body") or [], [(nid, None)])
            for cat in info.get("catches") or []:
                cnid = cat["nid"]
                self._edge(nid, cnid)
                exits.extend(self.seq(cat.get("stmts") or [], [(cnid, None)]))
            fin = info.get("final") or []
            if fin:
                exits = self.seq(fin, exits)
            return exits
        if kind == "throw":
            # like return/goto: no fall-through (currentEOG cleared)
            self.connect(preds, nid)
            return []
        # plain statement / expression
        self.connect(preds, nid)
        return [(nid, None)]


# AST fields whose children are OPERANDS — they evaluate before their
# parent in the reference's expression-level EOG
# (EvaluationOrderGraphPass.java:917-951 handleBinaryOperator /
# handleUnaryOperator / handleCallExpression argument order).  Field
# priority fixes cross-field order on one node: base before arguments,
# lhs before rhs, array expression before its subscript.
_OPERAND_FIELD_ORDER = {
    "BASE": 0,
    "ARRAY_EXPRESSION": 0,
    "LHS": 1,
    "CONDITION": 1,
    "INPUT": 1,
    "OPERAND": 1,
    "EXPRESSION": 1,
    "RETURN_VALUE": 1,
    "ITERABLE": 1,
    "SUBSCRIPT_EXPRESSION": 2,
    "RHS": 2,
    "MESSAGE": 2,
    "RESOURCES": 2,
    "ARGUMENTS": 3,
    "INITIALIZERS": 3,
    "DIMENSIONS": 3,
    "INITIALIZER": 4,
}


def expand_expression_eog(graph) -> None:
    """EXPRESSION-LEVEL EOG — applied to every parse, matching
    the reference whose EvaluationOrderGraphPass always operates at
    expression level: rewrite a DocGraph's statement-level EOG so every
    operand evaluates before its operator, per
    ``EvaluationOrderGraphPass.java:917-951`` — lhs -> rhs -> operator,
    base -> arguments(in index order) -> call, initializer -> declaration.

    Mechanics: for each EOG-reachable node S owning an operand subtree,
    chain the subtree post-order (left-to-right) into S and rewire every
    incoming statement-level edge (P -> S) with P outside S's subtree to
    (P -> entry(S)).  Branch props on rewired edges are preserved; loop
    back-edges re-enter through the condition's first operand, so
    conditions re-evaluate operand-first each iteration.  Short-circuit
    ``&&``/``||`` operators keep their inline branch edges (emitted at
    parse time, EOGTest testConditionShortCircuit) — their subtrees are
    walked for inner wiring but never re-chained.  Subset: the callee
    reference of a call and the branch arms of ``?:`` are not ordered
    (documented gap; the condition operand of ``?:`` is)."""
    labels = {n["node_id"]: n["label"] for n in graph.nodes}
    sc_ops = {
        n["node_id"] for n in graph.nodes
        if n["label"] == "BinaryOperator"
        and (n.get("props") or {}).get("operator") in ("&&", "||")
    }
    kids: dict[str, list] = {}
    for e in graph.edges:
        if e["pred"] != "AST":
            continue
        f = (e.get("props") or {}).get("field")
        if f == "CONDITION" and labels.get(e["subj"]) in (
                "DoStatement", "WhileStatement", "IfStatement",
                "ForStatement", "SwitchStatement"):
            # loop/branch statements wire their condition into the
            # statement EOG separately (EogBuilder heads) — treating it
            # as an operand here would chain cond -> statement-node and
            # rewire the statement's entry INTO the condition subtree,
            # turning a do-while into a while (okDoWhile regression).
            # Condition OPERANDS still chain when the condition node
            # itself is wired (it is an EOG target)
            continue
        pr = _OPERAND_FIELD_ORDER.get(f)
        if pr is None:
            # DeclarationStatement unpacks to its declarations
            # (handleDeclarationStatement): each decl's initializer chain
            # runs before the statement node
            if not (f == "DECLARATIONS"
                    and labels.get(e["subj"]) == "DeclarationStatement"):
                continue
            pr = 1
        idx = int((e.get("props") or {}).get("index") or 0)
        kids.setdefault(e["subj"], []).append((pr, idx, e["obj"]))
    for v in kids.values():
        v.sort()

    def entry(n: str, _depth: int = 0) -> str:
        ks = kids.get(n)
        if not ks or _depth > 64:
            return n
        return entry(ks[0][2], _depth + 1)

    new_edges: list[dict] = []
    counter = [10000]
    doc_id = graph.nodes[0]["doc_id"] if graph.nodes else None

    def _edge(a: str, b: str) -> None:
        new_edges.append({
            "subj": a, "pred": "EOG", "obj": b,
            "props": {"index": str(counter[0]), "expr": "true"},
            "doc_id": doc_id,
        })
        counter[0] += 1

    wired: set[str] = set()

    def wire(n: str) -> None:
        if n in wired:
            return
        wired.add(n)
        ks = [k for _, _, k in kids.get(n, [])]
        if not ks:
            return
        if n in sc_ops:
            # inline short-circuit edges already order lhs/rhs/op;
            # only the operands' own subtrees need wiring
            for k in ks:
                wire(k)
            return
        prev = None
        for k in ks:
            wire(k)
            if prev is not None:
                _edge(prev, entry(k))
            prev = k
        _edge(prev, n)

    # operand-parent map: "is subj inside obj's operand subtree" becomes
    # a bounded ancestor walk instead of materializing every target's
    # full descendant set (which was ~half this rewrite's cost —
    # measured 0.105 of 0.21 s per 200 docs)
    parent_of: dict[str, str] = {}
    for p, ks in kids.items():
        for _, _, k in ks:
            parent_of[k] = p

    def inside(a: str, t: str) -> bool:
        d = 0
        while a in parent_of and d < 64:
            a = parent_of[a]
            if a == t:
                return True
            d += 1
        return False

    targets = {e["obj"] for e in graph.edges
               if e["pred"] == "EOG" and e["obj"] in kids}
    for e in graph.edges:
        if e["pred"] != "EOG" or e["obj"] not in targets:
            continue
        if inside(e["subj"], e["obj"]):
            continue  # internal (e.g. short-circuit) edge — exact already
        wire(e["obj"])
        e["obj"] = entry(e["obj"])
    for t in targets:
        wire(t)
    graph.edges.extend(new_edges)


def build_eog(emitter, root_id: str, body_infos: list[dict]) -> None:
    """EOG rooted at a function declaration (or namespace for module-level
    code): root -> first statement -> ... (per-function, zero shuffle).

    Dangling exits (incl. false-branches of trailing conditionals) connect
    back to the root node, which doubles as the function-exit sentinel —
    the reference models this via its ExitPoints collection
    (EvaluationOrderGraphPass.java handleFunctionDeclaration)."""
    b = EogBuilder(emitter)
    exits = b.seq(body_infos, [(root_id, None)])
    # deferred goto -> label edges (forward gotos legal); a goto whose
    # label never lands stays edge-less, like the reference's unfired
    # listener
    for gid, label in b.gotos:
        target = b.labels.get(label)
        if target is not None:
            b._edge(gid, target)
    for pid, branch in exits:
        if pid != root_id:
            b._edge(pid, root_id, branch)
