"""LLVM-IR frontend (SURVEY F5): textual ``.ll`` subset -> CPG rows.

Re-derives the behavior of the reference's LLVM frontend
(``cpg-language-llvm/src/main/kotlin/.../llvm/LLVMIRLanguageFrontend.kt`` +
``StatementHandler.kt`` / ``ExpressionHandler.kt`` / ``DeclarationHandler.kt``)
for the instruction subset its test resources exercise
(``cpg-language-llvm/src/test/resources/llvm/{main,br,phi,switch_case,
global_local_var,integer_ops}.ll``):

* ``define`` / ``declare``            -> FunctionDeclaration (+ params)
* ``@g = global/constant <ty> <v>``   -> VariableDeclaration (module scope)
* basic-block labels                  -> LabelStatement
* ``br label %x``                     -> GotoStatement (props.target_label)
* ``br i1 %c, label %a, label %b``    -> IfStatement{then:Goto, else:Goto}
  (the same shape the reference emits, which is what CompressLLVMPass —
  our ``operators/compress_llvm.py`` — rewrites)
* ``switch``                          -> SwitchStatement + case Gotos
* binary / icmp / fcmp ops            -> BinaryOperator (C spelling: add->+,
  icmp eq->== ...), matching the reference's opcode mapping
* ``call @f(...)``                    -> CallExpression; local CALLS edge or
  cross-document mention for the linker
* ``phi``                             -> ConditionalExpression-like merge
  node with DFG from every incoming value (the reference rewrites phi into
  predecessor-block assignments; the emitted DFG fan-in is identical)
* ``load`` / ``store`` / ``alloca`` / casts / ``getelementptr`` / ``select``
* ``ret``                             -> ReturnStatement
* ``unreachable``                     -> Statement(name=unreachable)

Every ``%x = ...`` mints a VariableDeclaration for the SSA value (LLVM SSA
registers are single-assignment locals), with DFG operand->result edges and
EVAL_TYPE from the instruction's type token.  EOG edges follow instruction
order inside a block and branch targets across blocks (branch=true/false on
conditional ``br``), index-stamped like ``eog.py``.

The parser is line-oriented recursive-descent over a comment-stripped
token stream — original code, no reference source consulted for the
implementation (the reference parses via javacpp/LLVM C API, a design that
cannot apply here).
"""

from __future__ import annotations

import re

from .base import DocGraph, Emitter, parse_span

# opcode -> C-style operator spelling (reference ExpressionHandler maps LLVM
# opcodes onto BinaryOperator operator codes the same way)
_BINOPS = {
    "add": "+", "fadd": "+", "sub": "-", "fsub": "-", "mul": "*",
    "fmul": "*", "udiv": "/", "sdiv": "/", "fdiv": "/", "urem": "%",
    "srem": "%", "frem": "%", "and": "&", "or": "|", "xor": "^",
    "shl": "<<", "lshr": ">>", "ashr": ">>",
}
_ICMP = {
    "eq": "==", "ne": "!=", "ugt": ">", "uge": ">=", "ult": "<",
    "ule": "<=", "sgt": ">", "sge": ">=", "slt": "<", "sle": "<=",
    # fcmp predicates (ordered/unordered collapse to the comparison)
    "oeq": "==", "one": "!=", "ogt": ">", "oge": ">=", "olt": "<",
    "ole": "<=", "ueq": "==", "une": "!=",
}
_CASTS = {
    "bitcast", "trunc", "zext", "sext", "fptrunc", "fpext", "ptrtoint",
    "inttoptr", "sitofp", "uitofp", "fptosi", "fptoui", "addrspacecast",
}

_LABEL_RE = re.compile(r"^([\w.$-]+):\s*(?:;.*)?$")
_DEFINE_RE = re.compile(r"^define\b(.*)@([\w.$-]+)\s*\((.*?)\)(.*)$")
_DECLARE_RE = re.compile(r"^declare\b(.*)@([\w.$-]+)\s*\((.*?)\)(.*)$")
_GLOBAL_RE = re.compile(r"^@([\w.$-]+)\s*=\s*(.*)$")
_ASSIGN_RE = re.compile(r"^%([\w.$-]+)\s*=\s*(.*)$")
_CALL_RE = re.compile(r"^(?:tail\s+)?(?:musttail\s+)?call\b(.*?)@([\w.$-]+)\s*\((.*)\)\s*(?:#\d+|\w+)*\s*$")
_VALUE_RE = re.compile(r"[%@][\w.$-]+|-?\d+\.?\d*(?:e[+-]?\d+)?|true|false|null|undef|poison|none|zeroinitializer")


class LlvmParseError(ValueError):
    pass


def _strip_comment(line: str) -> str:
    # ';' never appears inside .ll identifiers; c"..." strings may embed it,
    # but only in global initializers where we keep the raw text anyway
    q = False
    for i, ch in enumerate(line):
        if ch == '"':
            q = not q
        elif ch == ";" and not q:
            return line[:i]
    return line


def _split_args(s: str) -> list[str]:
    """Split a call/param list on top-level commas (brackets nest)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{<":
            depth += 1
        elif ch in ")]}>":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _last_value_token(arg: str) -> str | None:
    """The value operand of a '<ty> <value>' argument — the LAST value-shaped
    token (the leading tokens are the type, which may itself contain digits,
    e.g. ``[13 x i8]*``)."""
    toks = _VALUE_RE.findall(arg)
    return toks[-1] if toks else None


class LlvmFrontend:
    """One ``.ll`` document -> DocGraph rows."""

    def __init__(self, doc_id: str, span_offset: int, source: str,
                 module_name: str):
        self.em = Emitter(doc_id, span_offset, source, module_name)
        self.lines = source.split("\n")
        # local symbol tables (LLVM has one flat global namespace per module)
        self.functions: dict[str, dict] = {}   # @name -> {decl_id, param_ids}
        self.globals: dict[str, str] = {}      # @name -> decl_id
        self.pending_calls: list[tuple] = []   # resolved after full scan

    # ------------------------------------------------------------------ run
    def run(self) -> DocGraph:
        em = self.em
        em.enter_scope("module", em.module_name, None)
        i = 0
        n = len(self.lines)
        while i < n:
            raw = self.lines[i]
            line = _strip_comment(raw).strip()
            if not line or line.startswith("!") or line.startswith("source_filename") \
               or line.startswith("target ") or line.startswith("attributes "):
                i += 1
                continue
            m = _DEFINE_RE.match(line)
            if m:
                i = self._function(m, i)
                continue
            m = _DECLARE_RE.match(line)
            if m:
                self._declare(m, i)
                i += 1
                continue
            m = _GLOBAL_RE.match(line)
            if m:
                self._global(m, i)
                i += 1
                continue
            if line.startswith("%") and "= type" in line:
                self._struct_type(line, i)
                i += 1
                continue
            raise LlvmParseError(f"line {i + 1}: cannot parse: {line[:80]}")
        self._link_local_calls()
        self._export_symbols()
        em.leave_scope()
        return em.out

    # ----------------------------------------------------------- top level
    def _struct_type(self, line: str, i: int):
        # %struct.X = type { i32, i8* }  -> RecordDeclaration (fields typed
        # positionally; LLVM struct members are unnamed)
        name = line.split("=", 1)[0].strip().lstrip("%")
        rid = self.em.node(f"type/{name}", "RecordDeclaration", name=name,
                           loc=(i + 1, 0, i + 1, len(line)), code=line)
        self.em.declare(name, rid, "record")

    def _params(self, fn_path: str, params_s: str) -> tuple[list, list, bool]:
        pids, ptypes, variadic = [], [], False
        for j, p in enumerate(_split_args(params_s)):
            if not p:
                continue
            if p == "...":
                variadic = True
                continue
            toks = p.split()
            pname = toks[-1].lstrip("%") if toks[-1].startswith("%") else f"arg{j}"
            ptype = " ".join(t for t in toks if not t.startswith("%")
                             and t not in ("nocapture", "readonly", "noalias",
                                           "nonnull", "nounwind", "byval",
                                           "sret", "zeroext", "signext"))
            pid = self.em.node(f"{fn_path}/param/{j}", "ParameterDeclaration",
                               name=pname, argument_index=j)
            self.em.eval_type(pid, ptype or "unknown")
            pids.append(pid)
            ptypes.append(ptype)
        return pids, ptypes, variadic

    def _declare(self, m, i: int):
        ret_ty, name, params_s = m.group(1).strip(), m.group(2), m.group(3)
        path = f"declare/{name}"
        fid = self.em.node(path, "FunctionDeclaration", name=name,
                           loc=(i + 1, 0, i + 1, len(self.lines[i])),
                           props={"is_definition": "false"})
        pids, _, variadic = self._params(path, params_s)
        for pid in pids:
            self.em.ast_edge(fid, pid, "parameters")
        if ret_ty:
            self.em.eval_type(fid, ret_ty.split()[-1] if ret_ty.split() else "void")
        self.functions[name] = {"decl_id": fid, "param_ids": pids,
                                "n_params": len(pids), "variadic": variadic,
                                "defined": False}
        self.em.declare(name, fid, "function")

    def _global(self, m, i: int):
        name, rhs = m.group(1), m.group(2)
        line = self.lines[i]
        gid = self.em.node(f"global/{name}", "VariableDeclaration", name=name,
                           loc=(i + 1, 0, i + 1, len(line)), code=line.strip())
        toks = rhs.split()
        ty = next((t for t in toks
                   if t not in ("private", "internal", "external", "linkonce",
                                "weak", "common", "appending", "unnamed_addr",
                                "local_unnamed_addr", "constant", "global",
                                "dso_local", "externally_initialized")), None)
        if ty:
            self.em.eval_type(gid, ty)
        if "constant" in toks or "global" in toks:
            lit_src = rhs.split("constant" if "constant" in toks else "global", 1)[1].strip()
            if lit_src:
                lid = self.em.node(f"global/{name}/init", "Literal",
                                   name=lit_src[:60], code=lit_src[:200])
                self.em.ast_edge(gid, lid, "initializer")
                self.em.edge(lid, "DFG", gid)
        self.globals[name] = gid
        self.em.declare(name, gid, "var")

    # ------------------------------------------------------------ function
    def _function(self, m, i: int) -> int:
        em = self.em
        ret_ty, name, params_s = m.group(1).strip(), m.group(2), m.group(3)
        path = f"fn/{name}"
        fid = em.node(path, "FunctionDeclaration", name=name,
                      loc=(i + 1, 0, i + 1, len(self.lines[i])),
                      props={"is_definition": "true"})
        em.enter_scope("function", name, fid)
        pids, ptypes, variadic = self._params(path, params_s)
        for j, pid in enumerate(pids):
            em.ast_edge(fid, pid, "parameters")
            pname = next((nd["name"] for nd in em.out.nodes
                          if nd["node_id"] == pid), None)
            if pname:
                em.declare(pname, pid, "param",
                           ptypes[j] if j < len(ptypes) else None)
        if ret_ty:
            rt = ret_ty.split()[-1] if ret_ty.split() else "void"
            em.eval_type(fid, rt)
        body_id = em.node(f"{path}/body", "CompoundStatement")
        em.ast_edge(fid, body_id, "body")
        self.functions[name] = {"decl_id": fid, "param_ids": pids,
                                "n_params": len(pids), "variadic": variadic,
                                "defined": True}
        em.declare(name, fid, "function")

        # collect body lines up to the matching '}'
        j = i + 1
        body: list[tuple[int, str]] = []
        while j < len(self.lines):
            ln = _strip_comment(self.lines[j]).strip()
            if ln == "}":
                break
            if ln:
                body.append((j, ln))
            j += 1
        if j >= len(self.lines):
            raise LlvmParseError(f"function @{name}: unterminated body")

        self._blocks(path, fid, body_id, body)
        em.leave_scope()
        return j + 1

    def _blocks(self, path: str, fid: str, body_id: str,
                body: list[tuple[int, str]]):
        """Split into basic blocks, emit instruction nodes + EOG."""
        em = self.em
        # pass 1: block structure — leading implicit entry block
        blocks: list[dict] = [{"label": None, "lines": []}]
        for lineno, ln in body:
            lm = _LABEL_RE.match(ln)
            if lm:
                blocks.append({"label": lm.group(1), "lines": [],
                               "lineno": lineno})
            else:
                blocks[-1]["lines"].append((lineno, ln))
        if not blocks[0]["lines"]:
            blocks = blocks[1:]

        # pass 2: label nodes first (forward branches need target ids)
        self.label_ids: dict[str, str] = {}
        for b in blocks:
            if b["label"] is not None:
                lid = em.node(f"{path}/label/{b['label']}", "LabelStatement",
                              name=b["label"],
                              loc=(b["lineno"] + 1, 0, b["lineno"] + 1,
                                   len(b["label"]) + 1))
                em.ast_edge(body_id, lid, "statements")
                self.label_ids[b["label"]] = lid
        # a block's sub-statement container (reference wraps each BB in a
        # CompoundStatement hanging off the LabelStatement)
        self.block_body: dict[str, str] = {}
        for b in blocks:
            if b["label"] is not None:
                bb = em.node(f"{path}/label/{b['label']}/bb", "CompoundStatement")
                em.ast_edge(self.label_ids[b["label"]], bb, "subStatement")
                self.block_body[b["label"]] = bb

        # pass 3: instructions
        eog_index = 0
        first_instr: dict[str | None, str] = {}
        terminators: list[tuple[str, list[tuple[str, str | None]]]] = []
        # EOG entry: function -> first instruction of first block
        for bi, b in enumerate(blocks):
            parent = self.block_body.get(b["label"], body_id)
            prev: str | None = None
            terminated = False
            for k, (lineno, ln) in enumerate(self._fuse_multiline(b["lines"])):
                nid, is_term, targets = self._instruction(
                    path, parent, b["label"] or "entry", k, lineno, ln)
                if nid is None:
                    continue
                if b["label"] is None and bi == 0 and prev is None:
                    em.edge(fid, "EOG", nid, {"index": eog_index})
                    eog_index += 1
                if prev is not None:
                    em.edge(prev, "EOG", nid, {"index": eog_index})
                    eog_index += 1
                first_instr.setdefault(b["label"], nid)
                prev = nid
                if is_term:
                    terminated = True
                    if targets:
                        terminators.append((nid, targets))
                    break
            # fallthrough into the next labeled block (LLVM requires a
            # terminator, but be permissive for subset inputs)
            if not terminated and prev is not None and bi + 1 < len(blocks):
                nxt = blocks[bi + 1]["label"]
                terminators.append((prev, [(nxt, None)]))

        # pass 4: EOG edges for branch targets (to the LABEL node, whose
        # first instruction follows); label -> first-instruction emitted
        # ONCE per label regardless of fan-in
        entered: set[str] = set()
        for src, targets in terminators:
            for tgt_label, branch in targets:
                lid = self.label_ids.get(tgt_label)
                if lid is None:
                    continue
                props: dict = {"index": eog_index}
                if branch is not None:
                    props["branch"] = branch
                em.edge(src, "EOG", lid, props)
                eog_index += 1
                fi = first_instr.get(tgt_label)
                if fi is not None and tgt_label not in entered:
                    entered.add(tgt_label)
                    em.edge(lid, "EOG", fi, {"index": eog_index})
                    eog_index += 1

    @staticmethod
    def _fuse_multiline(lines: list[tuple[int, str]]) -> list[tuple[int, str]]:
        """switch instructions span lines until the closing ']'."""
        out, buf, start = [], None, 0
        for lineno, ln in lines:
            if buf is not None:
                buf += " " + ln
                if "]" in ln:
                    out.append((start, buf))
                    buf = None
                continue
            if ln.startswith("switch") and "]" not in ln:
                buf, start = ln, lineno
            else:
                out.append((lineno, ln))
        if buf is not None:
            out.append((start, buf))
        return out

    # --------------------------------------------------------- instructions
    def _ref(self, path: str, token: str, lineno: int) -> str | None:
        """Emit a reference/literal node for one operand token; returns id."""
        em = self.em
        if token is None:
            return None
        if token.startswith("%"):
            name = token[1:]
            rid = em.node(f"{path}/ref/{lineno}/{name}",
                          "DeclaredReferenceExpression", name=name)
            d = em.resolve(name)
            if d is not None:
                em.edge(rid, "REFERS_TO", d["decl_id"])
                em.edge(d["decl_id"], "DFG", rid)
                if d.get("type"):
                    em.eval_type(rid, d["type"])
            return rid
        if token.startswith("@"):
            name = token[1:]
            rid = em.node(f"{path}/gref/{lineno}/{name}",
                          "DeclaredReferenceExpression", name=name)
            if name in self.globals:
                em.edge(rid, "REFERS_TO", self.globals[name])
                em.edge(self.globals[name], "DFG", rid)
            elif name in self.functions:
                em.edge(rid, "REFERS_TO", self.functions[name]["decl_id"])
            else:
                em.out.mentions.append({
                    "mention_id": rid, "kind": "ref", "name": name,
                    "base_type": None, "scope_path": em.module_name,
                    "doc_id": em.doc_id, "n_args": None, "n_kwargs": None,
                    "arg_ids": None})
            return rid
        lid = em.node(f"{path}/lit/{lineno}/{token[:24]}", "Literal",
                      name=token[:60], code=token[:60])
        return lid

    def _instruction(self, path: str, parent: str, blk: str, k: int,
                     lineno: int, ln: str):
        """Emit one instruction; returns (node_id, is_terminator, targets)
        where targets is [(label, branch|None), ...]."""
        em = self.em
        ipath = f"{path}/{blk}/{k}"
        loc = (lineno + 1, 0, lineno + 1, len(ln))

        am = _ASSIGN_RE.match(ln)
        if am:
            res, rhs = am.group(1), am.group(2).strip()
            vid = em.node(f"{ipath}/var/{res}", "VariableDeclaration",
                          name=res, loc=loc, code=ln)
            em.ast_edge(parent, vid, "statements", index=k)
            rty = self._rhs(ipath, vid, rhs, lineno)
            em.declare(res, vid, "var", rty)
            return vid, False, None

        if ln.startswith("store"):
            sid = em.node(f"{ipath}/store", "BinaryOperator", name="=",
                          loc=loc, code=ln)
            em.ast_edge(parent, sid, "statements", index=k)
            args = _split_args(ln[len("store"):].lstrip().split("store", 1)[-1])
            args = _split_args(ln.split(None, 1)[1]) if len(args) < 2 else args
            vals = [_last_value_token(a) for a in args[:2]]
            src = self._ref(ipath, vals[0], lineno) if vals else None
            if src is not None:
                em.ast_edge(sid, src, "rhs")
                em.edge(src, "DFG", sid)
            if len(vals) > 1 and vals[1] and vals[1].startswith("%"):
                d = em.resolve(vals[1][1:])
                if d is not None:
                    em.edge(sid, "DFG", d["decl_id"])
            elif len(vals) > 1 and vals[1] and vals[1].startswith("@"):
                g = self.globals.get(vals[1][1:])
                if g:
                    em.edge(sid, "DFG", g)
            return sid, False, None

        if ln.startswith("ret"):
            rid = em.node(f"{ipath}/ret", "ReturnStatement", loc=loc, code=ln)
            em.ast_edge(parent, rid, "statements", index=k)
            tok = _last_value_token(ln[3:])
            if tok and ln.split()[1] != "void":
                v = self._ref(ipath, tok, lineno)
                if v is not None:
                    em.ast_edge(rid, v, "returnValue")
                    em.edge(v, "DFG", rid)
            return rid, True, []

        if ln.startswith("br "):
            rest = ln[3:].strip()
            if rest.startswith("label"):
                tgt = rest.split("%", 1)[1].strip()
                gid = em.node(f"{ipath}/goto", "GotoStatement", name=tgt,
                              loc=loc, code=ln,
                              props={"target_label": tgt})
                em.ast_edge(parent, gid, "statements", index=k)
                return gid, True, [(tgt, None)]
            # br i1 %c, label %a, label %b
            parts = _split_args(rest)
            cond_tok = _last_value_token(parts[0])
            t_then = parts[1].split("%", 1)[1].strip()
            t_else = parts[2].split("%", 1)[1].strip()
            iid = em.node(f"{ipath}/if", "IfStatement", loc=loc, code=ln)
            em.ast_edge(parent, iid, "statements", index=k)
            cid = self._ref(ipath, cond_tok, lineno)
            if cid is not None:
                em.ast_edge(iid, cid, "condition")
                em.edge(cid, "DFG", iid)
            g1 = em.node(f"{ipath}/goto_then", "GotoStatement", name=t_then,
                         props={"target_label": t_then})
            g2 = em.node(f"{ipath}/goto_else", "GotoStatement", name=t_else,
                         props={"target_label": t_else})
            em.ast_edge(iid, g1, "thenStatement")
            em.ast_edge(iid, g2, "elseStatement")
            return iid, True, [(t_then, "true"), (t_else, "false")]

        if ln.startswith("switch"):
            head, _, cases_s = ln.partition("[")
            parts = _split_args(head[len("switch"):].strip())
            val_tok = _last_value_token(parts[0])
            default = parts[1].split("%", 1)[1].strip()
            sid = em.node(f"{ipath}/switch", "SwitchStatement", loc=loc,
                          code=ln[:200])
            em.ast_edge(parent, sid, "statements", index=k)
            vv = self._ref(ipath, val_tok, lineno)
            if vv is not None:
                em.ast_edge(sid, vv, "selector")
                em.edge(vv, "DFG", sid)
            body = em.node(f"{ipath}/switch/body", "CompoundStatement")
            em.ast_edge(sid, body, "statement")
            targets = [(default, "default")]
            gd = em.node(f"{ipath}/switch/default", "GotoStatement",
                         name=default, props={"target_label": default})
            em.ast_edge(body, gd, "statements", index=0)
            for ci, c in enumerate(_split_args(cases_s.rstrip("] "))):
                if "label" not in c:
                    continue
                cval, _, lab = c.partition("label")
                lab = lab.split("%", 1)[1].strip()
                case_id = em.node(f"{ipath}/switch/case/{ci}", "CaseStatement",
                                  name=_last_value_token(cval) or "")
                em.ast_edge(body, case_id, "statements", index=ci + 1)
                g = em.node(f"{ipath}/switch/case/{ci}/goto", "GotoStatement",
                            name=lab, props={"target_label": lab})
                em.ast_edge(body, g, "statements", index=ci + 2)
                targets.append((lab, f"case_{ci}"))
            return sid, True, targets

        if ln == "unreachable":
            uid = em.node(f"{ipath}/unreachable", "Statement",
                          name="unreachable", loc=loc, code=ln)
            em.ast_edge(parent, uid, "statements", index=k)
            return uid, True, []

        cm = _CALL_RE.match(ln)
        if cm:
            cid = self._call(ipath, cm, lineno, loc)
            em.ast_edge(parent, cid, "statements", index=k)
            return cid, False, None

        # permissive: unknown instruction becomes an opaque Statement
        sid = em.node(f"{ipath}/op", "Statement", name=ln.split()[0],
                      loc=loc, code=ln)
        em.ast_edge(parent, sid, "statements", index=k)
        return sid, False, None

    def _call(self, ipath: str, cm, lineno: int, loc) -> str:
        em = self.em
        fname, args_s = cm.group(2), cm.group(3)
        cid = em.node(f"{ipath}/call/{fname}", "CallExpression", name=fname,
                      loc=loc)
        arg_ids = []
        for ai, a in enumerate(_split_args(args_s)):
            tok = _last_value_token(a)
            aid = self._ref(ipath + f"/arg{ai}", tok, lineno)
            if aid is not None:
                em.ast_edge(cid, aid, "arguments", index=ai)
                em.edge(aid, "DFG", cid)
                arg_ids.append(aid)
        ret_toks = cm.group(1).split()
        if ret_toks:
            em.eval_type(cid, ret_toks[-1])
        self.pending_calls.append((cid, fname, arg_ids))
        return cid

    def _rhs(self, ipath: str, vid: str, rhs: str, lineno: int) -> str | None:
        """Emit the initializer expression of ``%x = rhs``; DFG rhs->var.
        Returns the result type string when recognizable."""
        em = self.em
        toks = rhs.split()
        op = toks[0] if toks else ""

        def init(eid):
            em.ast_edge(vid, eid, "initializer")
            em.edge(eid, "DFG", vid)

        if op in _BINOPS or op in ("icmp", "fcmp"):
            if op in ("icmp", "fcmp"):
                pred = toks[1]
                sym = _ICMP.get(pred, pred)
                rest = " ".join(toks[2:])
                rty = "i1"
            else:
                sym = _BINOPS[op]
                rest = " ".join(t for t in toks[1:]
                                if t not in ("nsw", "nuw", "exact", "fast"))
                rty = rest.split()[0] if rest.split() else None
            args = _split_args(rest)
            bid = em.node(f"{ipath}/bin", "BinaryOperator", name=sym,
                          code=rhs[:120])
            for side, a in zip(("lhs", "rhs"), args[:2]):
                tok = _last_value_token(a)
                r = self._ref(ipath + "/" + side, tok, lineno)
                if r is not None:
                    em.ast_edge(bid, r, side)
                    em.edge(r, "DFG", bid)
            if rty:
                em.eval_type(bid, rty)
                em.eval_type(vid, rty)
            init(bid)
            return rty

        if op == "phi":
            pid = em.node(f"{ipath}/phi", "ConditionalExpression", name="phi",
                          code=rhs[:120])
            rty = toks[1] if len(toks) > 1 else None
            for inc in re.findall(r"\[([^\]]*)\]", rhs):
                val, _, _blk = inc.partition(",")
                tok = _last_value_token(val)
                r = self._ref(ipath + "/phi_in", tok, lineno)
                if r is not None:
                    em.ast_edge(pid, r, "values")
                    em.edge(r, "DFG", pid)
            if rty:
                em.eval_type(pid, rty)
                em.eval_type(vid, rty)
            init(pid)
            return rty

        if op == "select":
            sid = em.node(f"{ipath}/select", "ConditionalExpression",
                          name="select", code=rhs[:120])
            args = _split_args(" ".join(toks[1:]))
            for fldn, a in zip(("condition", "thenExpr", "elseExpr"), args[:3]):
                tok = _last_value_token(a)
                r = self._ref(ipath + "/" + fldn, tok, lineno)
                if r is not None:
                    em.ast_edge(sid, r, fldn)
                    em.edge(r, "DFG", sid)
            init(sid)
            return None

        if op == "load":
            rty = toks[1].rstrip(",") if len(toks) > 1 else None
            lid = em.node(f"{ipath}/load", "UnaryOperator", name="*",
                          code=rhs[:120])
            tok = _last_value_token(rhs[len("load"):])
            r = self._ref(ipath + "/ptr", tok, lineno)
            if r is not None:
                em.ast_edge(lid, r, "input")
                em.edge(r, "DFG", lid)
            if rty:
                em.eval_type(vid, rty)
            init(lid)
            return rty

        if op == "alloca":
            rty = (toks[1].rstrip(",") if len(toks) > 1 else "ptr") + "*"
            aid = em.node(f"{ipath}/alloca", "NewExpression", name="alloca",
                          code=rhs[:120])
            em.eval_type(vid, rty)
            init(aid)
            return rty

        if op == "getelementptr":
            gid = em.node(f"{ipath}/gep", "ArraySubscriptionExpression",
                          name="getelementptr", code=rhs[:120])
            rest = rhs[len("getelementptr"):].replace("inbounds", "")
            for ai, a in enumerate(_split_args(rest)):
                tok = _last_value_token(a)
                if tok is None:
                    continue
                r = self._ref(ipath + f"/gep{ai}", tok, lineno)
                if r is not None:
                    em.edge(r, "DFG", gid)
                    em.ast_edge(gid, r, "subscriptExpression" if ai else "arrayExpression")
            init(gid)
            return None

        if op in _CASTS:
            bid = em.node(f"{ipath}/cast", "CastExpression", name=op,
                          code=rhs[:120])
            mt = re.match(r"\S+\s+(.*)\s+to\s+(\S+)", rhs)
            if mt:
                tok = _last_value_token(mt.group(1))
                r = self._ref(ipath + "/castv", tok, lineno)
                if r is not None:
                    em.ast_edge(bid, r, "expression")
                    em.edge(r, "DFG", bid)
                em.eval_type(bid, mt.group(2))
                em.eval_type(vid, mt.group(2))
            init(bid)
            return mt.group(2) if mt else None

        cm = _CALL_RE.match(rhs)
        if cm:
            cid = self._call(ipath, cm, lineno, None)
            ret_toks = cm.group(1).split()
            rty = ret_toks[-1] if ret_toks else None
            if rty and rty != "void":
                em.eval_type(vid, rty)
            init(cid)
            return rty

        # extractvalue / insertvalue / atomicrmw / generic fallback
        eid = em.node(f"{ipath}/expr", "Expression", name=op, code=rhs[:120])
        for tok in _VALUE_RE.findall(rhs):
            if tok.startswith("%") or tok.startswith("@"):
                r = self._ref(ipath + "/opnd", tok, lineno)
                if r is not None:
                    em.edge(r, "DFG", eid)
        init(eid)
        return None

    # ------------------------------------------------------------- linking
    def _link_local_calls(self):
        em = self.em
        for cid, fname, arg_ids in self.pending_calls:
            f = self.functions.get(fname)
            if f is not None:
                em.edge(cid, "CALLS", f["decl_id"])
                em.edge(f["decl_id"], "DFG", cid)
                for aid, pid in zip(arg_ids, f["param_ids"]):
                    em.edge(aid, "DFG", pid)
            else:
                em.out.mentions.append({
                    "mention_id": cid, "kind": "call", "name": fname,
                    "base_type": None, "scope_path": em.module_name,
                    "doc_id": em.doc_id, "n_args": len(arg_ids),
                    "n_kwargs": 0, "arg_ids": arg_ids})

    def _export_symbols(self):
        em = self.em
        for name, f in self.functions.items():
            em.out.symbols.append({
                "decl_id": f["decl_id"], "kind": "function", "name": name,
                "fqn": f"{em.module_name}.{name}", "record": None,
                "module": em.module_name, "doc_id": em.doc_id,
                "n_params": f["n_params"], "has_defaults": False,
                "is_variadic": f["variadic"], "param_ids": f["param_ids"],
                "param_names": None,
            })
        for name, gid in self.globals.items():
            em.out.symbols.append({
                "decl_id": gid, "kind": "var", "name": name,
                "fqn": f"{em.module_name}.{name}", "record": None,
                "module": em.module_name, "doc_id": em.doc_id,
                "n_params": None, "has_defaults": None, "is_variadic": None,
                "param_ids": None, "param_names": None,
            })


def parse_llvm_document(doc_id: str, span_offset: int, source: str,
                        module_name: str | None = None) -> DocGraph:
    """Parse one LLVM-IR span; parse failures degrade to ProblemDeclaration
    (never fail the Arrow batch)."""
    return parse_span(LlvmFrontend, doc_id, span_offset, source, module_name,
                      (LlvmParseError, RecursionError, IndexError))
