"""openCypher-subset executor over the nodes/edges DataFrames.

Re-derivation of the reference's experimental in-memory Cypher executor
(``cpg-core/.../graph/Graph.kt:58-360``): MATCH of a single pattern part
with a relationship chain (``handleRelationshipChain`` :121-167), node
label + inline property filters (``handleNodePattern`` :169-), WHERE
comparisons ``= < >`` on properties (:245-287), RETURN variable and
LIMIT (:79-100).

The Spark translation is purely declarative — each pattern node is a
filtered projection of ``nodes``, each relationship a self-join through
``edges`` filtered on ``pred`` — so Catalyst plans the chain like any
relational query (label pushdown, broadcast of small ends, AQE).

Grammar (a strict superset of what the reference's tests exercise;
round-5 additions: relationship variables + inline edge-property
filters, ``OR`` with the standard AND-over-OR precedence, and
multi-item RETURN):

    MATCH (a:Label {prop: 'lit'})-[r:PRED {index: 0}]->(b)-[:PRED2]->(c)
    [WHERE x.prop OP literal [AND|OR ...]]
    RETURN x | x.prop, y.prop, r.prop ... [LIMIT n]

OP ∈ {=, <, >, <>, <=, >=};  node properties resolve to node columns
(name, code, label, doc_id, ...) or loc fields (start_line, ...);
relationship properties (``r.index``) resolve through the edge props
map (index, branch, field, name — ``graph/edge/Properties.java:43-49``).
A single bare RETURN variable yields that node's full rows (the
reference's shape); an item list yields one ``var_prop`` column per
item (bare vars contribute their ``name``).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NODE_RE = re.compile(
    r"\(\s*(?P<var>\w+)?\s*(?::\s*(?P<label>\w+))?\s*"
    r"(?:\{(?P<props>[^}]*)\})?\s*\)"
)
# `[r:PRED {k: v}]` / `[:PRED]` / `[r]` / `[]`; a bare word without the
# colon is a relationship VARIABLE (standard cypher), so the legacy
# `[:PRED]` spelling keeps its meaning
_REL_RE = re.compile(
    r"-\s*\[\s*(?P<var>\w+)?\s*(?::\s*(?P<pred>\w+))?\s*"
    r"(?:\{(?P<props>[^}]*)\})?\s*\]\s*->"
)
_WHERE_RE = re.compile(
    r"(?P<var>\w+)\.(?P<prop>\w+)\s*(?P<op>=|<>|<=|>=|<|>)\s*"
    r"(?P<val>'[^']*'|\"[^\"]*\"|-?\d+(?:\.\d+)?)"
)
# constant-vs-constant predicate (QueryTest.kt:116-171 — ``WHERE 1=1``,
# ``1='a'``, ``1<0``, ``0>1``): folded at parse time, no plan node
_WHERE_CONST_RE = re.compile(
    r"(?P<lhs>'[^']*'|\"[^\"]*\"|-?\d+(?:\.\d+)?)\s*"
    r"(?P<op>=|<>|<=|>=|<|>)\s*"
    r"(?P<rhs>'[^']*'|\"[^\"]*\"|-?\d+(?:\.\d+)?)"
)
_RET_ITEM_RE = re.compile(r"^(?P<var>\w+)(?:\.(?P<prop>\w+))?$")

_LOC_FIELDS = {"start_line", "start_col", "end_line", "end_col"}


class CypherError(ValueError):
    pass


def _parse(query: str):
    q = query.strip()
    m = re.match(r"(?is)^\s*MATCH\s+(?P<pattern>.+?)"
                 r"(?:\s+WHERE\s+(?P<where>.+?))?"
                 r"\s+RETURN\s+(?P<ret>[\w.\s,]+?)"
                 r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$", q)
    if not m:
        raise CypherError(f"unsupported cypher: {query!r}")
    pattern = m.group("pattern")
    # split pattern into node / relationship tokens
    nodes = []
    rels = []
    pos = 0
    nm = _NODE_RE.match(pattern, pos)
    if not nm:
        raise CypherError("pattern must start with a node")
    nodes.append(nm.groupdict())
    pos = nm.end()
    while pos < len(pattern):
        rm = _REL_RE.match(pattern, pos)
        if not rm:
            if pattern[pos:].strip():
                raise CypherError(f"trailing pattern: {pattern[pos:]!r}")
            break
        rels.append(rm.groupdict())
        pos = rm.end()
        nm = _NODE_RE.match(pattern, pos)
        if not nm:
            raise CypherError("relationship must be followed by a node")
        nodes.append(nm.groupdict())
        pos = nm.end()
    # WHERE: OR of AND-conjunctions (standard precedence, no parens)
    wheres = []
    if m.group("where"):
        for disj in re.split(r"(?i)\s+OR\s+", m.group("where")):
            conj = []
            for part in re.split(r"(?i)\s+AND\s+", disj):
                part = part.strip()
                wm = _WHERE_RE.match(part)
                if wm:
                    conj.append(wm.groupdict())
                    continue
                cm = _WHERE_CONST_RE.match(part)
                if not cm:
                    raise CypherError(f"unsupported WHERE clause: {part!r}")
                conj.append({"const": _eval_const(
                    cm.group("lhs"), cm.group("op"), cm.group("rhs"))})
            wheres.append(conj)
    rets = []
    for item in m.group("ret").split(","):
        rm = _RET_ITEM_RE.match(item.strip())
        if not rm:
            raise CypherError(f"unsupported RETURN item: {item!r}")
        rets.append((rm.group("var"), rm.group("prop")))
    return nodes, rels, wheres, rets, m.group("limit")


def _eval_const(lhs: str, op: str, rhs: str) -> bool:
    """Fold a literal comparison.  The reference compares the evaluated
    AST literals (Graph.kt:245-287 handleWhere on two Literal operands);
    a cross-type compare like ``1='a'`` is simply unequal, never an
    error (QueryTest.testQueryNoResult)."""
    a, b = _literal(lhs), _literal(rhs)
    if isinstance(a, str) != isinstance(b, str):
        return op == "<>"  # differing types: only <> holds
    import operator as _op

    return {"=": _op.eq, "<>": _op.ne, "<": _op.lt,
            ">": _op.gt, "<=": _op.le, ">=": _op.ge}[op](a, b)


def _prop_col(var_prefix: str, prop: str):
    if prop in _LOC_FIELDS:
        return F.col(f"{var_prefix}loc.{prop}")
    return F.col(f"{var_prefix}{prop}")


def _literal(val: str):
    if val[0] in "'\"":
        return val[1:-1]
    return float(val) if "." in val else int(val)


def execute_cypher(query: str, nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Run the cypher subset; a single bare RETURN variable yields that
    node's full rows, an item list one ``var_prop`` column per item."""
    pat_nodes, rels, wheres, rets, limit = _parse(query)
    vars_seen = {}
    edge_vars = set()
    df = None
    for i, pn in enumerate(pat_nodes):
        var = pn["var"] or f"_v{i}"
        if var in vars_seen or var in edge_vars:
            raise CypherError(f"duplicate variable {var}")
        vars_seen[var] = i
        nd = nodes
        if pn["label"]:
            nd = nd.filter(F.col("label") == pn["label"])
        if pn["props"]:
            for kv in pn["props"].split(","):
                k, v = kv.split(":", 1)
                nd = nd.filter(
                    F.col(k.strip()) == _literal(v.strip())
                )
        prefix = f"{var}__"
        nd = nd.select([F.col(c).alias(f"{prefix}{c}") for c in nd.columns])
        if df is None:
            df = nd
        else:
            rel = rels[i - 1]
            prev_var = pat_nodes[i - 1]["var"] or f"_v{i-1}"
            e = edges
            if rel["pred"]:
                e = e.filter(F.col("pred") == rel["pred"])
            if rel["props"]:
                # inline edge-property filter: the props map holds string
                # values (index, branch, field, name — Properties.java)
                for kv in rel["props"].split(","):
                    k, v = kv.split(":", 1)
                    e = e.filter(F.col("props")[k.strip()]
                                 == str(_literal(v.strip())))
            cols = [F.col("subj").alias(f"__s{i}"),
                    F.col("obj").alias(f"__o{i}")]
            rvar = rel["var"]
            if rvar:
                if rvar in vars_seen or rvar in edge_vars:
                    raise CypherError(f"duplicate variable {rvar}")
                edge_vars.add(rvar)
                cols.append(F.col("props").alias(f"{rvar}__props"))
                cols.append(F.col("pred").alias(f"{rvar}__pred"))
            e = e.select(cols)
            df = (
                df.join(e, F.col(f"{prev_var}__node_id") == F.col(f"__s{i}"))
                .join(nd, F.col(f"__o{i}") == F.col(f"{var}__node_id"))
                .drop(f"__s{i}", f"__o{i}")
            )

    def one_cond(w):
        if "const" in w:
            return F.lit(bool(w["const"]))
        if w["var"] in edge_vars:
            # relationship property through the edge props map (string
            # values); a numeric literal compares numerically, so
            # `r.index < 10` does not sort "2" after "10", and a
            # non-numeric value casts to null and does not match
            col = F.col(f"{w['var']}__props")[w["prop"]]
            lit = _literal(w["val"])
            if not isinstance(lit, str):
                col = col.try_cast("double")
        elif w["var"] in vars_seen:
            col = _prop_col(f"{w['var']}__", w["prop"])
            lit = _literal(w["val"])
        else:
            raise CypherError(f"unknown variable {w['var']}")
        op = w["op"]
        return {
            "=": col == lit, "<>": col != lit, "<": col < lit,
            ">": col > lit, "<=": col <= lit, ">=": col >= lit,
        }[op]

    if wheres:
        disjuncts = [reduce(lambda a, b: a & b, (one_cond(w) for w in conj))
                     for conj in wheres]
        df = df.filter(reduce(lambda a, b: a | b, disjuncts))

    if len(rets) == 1 and rets[0][1] is None:
        # bare single variable: the node's full rows (reference shape)
        ret = rets[0][0]
        if ret not in vars_seen:
            raise CypherError(f"RETURN variable {ret} not bound")
        prefix = f"{ret}__"
        out = df.select(
            [F.col(c).alias(c[len(prefix):]) for c in df.columns
             if c.startswith(prefix)]
        )
    else:
        cols = []
        for var, prop in rets:
            if var in edge_vars:
                p = prop or "pred"
                src = (F.col(f"{var}__props")[p] if p not in ("pred",)
                       else F.col(f"{var}__pred"))
                cols.append(src.alias(f"{var}_{p}"))
            elif var in vars_seen:
                p = prop or "name"
                cols.append(_prop_col(f"{var}__", p).alias(f"{var}_{p}"))
            else:
                raise CypherError(f"RETURN variable {var} not bound")
        out = df.select(cols)
    if limit:
        out = out.limit(int(limit))
    return out
