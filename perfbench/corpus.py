"""Seeded benchmark inputs, built without Spark.

Every value is a pure function of the workload seed, so one seed always
gives the same documents and queries.  The generator is the
benchmark's own: editing the program's synthetic corpus cannot change the
workload.

Documents follow the pipeline's input contract
``documents(doc_id, spans array<struct<kind, text, media_ref, offset>>)``:
code spans interleaved with prose and media spans, offsets strictly
increasing.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

# call names a spoke imports from module ``ext``, which only the lifecycle
# delta batch defines; rank r is drawn with weight 1/(r+1), so the first
# names dominate the link join's key
ZIPF_NAMES = ["emit", "helper", "process", "render", "update", "parse",
              "compute", "flush", "reset", "notify"]
_ZIPF_W = [1.0 / (r + 1) for r in range(len(ZIPF_NAMES))]

VENDOR_EVERY = 4          # one doc in VENDOR_EVERY carries a vendored span
DOCS_PER_VENDORED = 50    # distinct vendored modules: one per 50 docs

SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    ("spans", pa.list_(SPAN_TYPE)),
])

_HUB = '''\
def util_helper_{h}(x, y):
    s = x + y
    return s

def util_format_{h}(v):
    t = str(v)
    return t
'''

_SPOKE = '''\
from hub{h} import util_helper_{h}
from ext import {zipf}

LIMIT_{k} = {c}

def calc_{k}(a, b):
    c = a + b
    if c > LIMIT_{k}:
        c = c - {d}
    else:
        c = c + {d}
    return c

class Worker{k}:
    def __init__(self, size):
        self.size = size
    def step(self, n):
        self.last = n + self.size
        return self.last
{extras}
def main_{k}():
    w = Worker{k}(LIMIT_{k})
    w.step(1)
    r = calc_{k}(1, 2)
    q = util_helper_{h}(r, LIMIT_{k})
    {zipf}(q)
    return q
'''

_EXTRA = '''
def extra_{k}_{i}(xs):
    total = 0
    for x in xs:
        if x > {c}:
            total = total + x
    return total
'''

_VENDOR = '''\
def vend_{v}_clip(x, lo, hi):
    if x < lo:
        return lo
    if x > hi:
        return hi
    return x

class VendCache{v}:
    def __init__(self):
        self.items = dict()
    def put(self, key, value):
        self.items[key] = value
        return vend_{v}_clip(value, 0, {v})
'''

_DELTA = '''\
from hub{h} import util_helper_{h}

def {name}(v):
    w = v + {c}
    return w

def delta_main_{j}():
    r = util_helper_{h}(1, {c})
    return {name}(r)
'''

_GO = '''\
package mod{k}

func Calc{k}(a int, b int) int {{
    c := a + b
    if c > {c} {{
        c = c - 1
    }} else {{
        c = c + 1
    }}
    return c
}}

func Main{k}() int {{
    r := Calc{k}(1, 2)
    return r
}}
'''

_JAVA = '''\
package worker{k};

public class JWorker{k} {{
  private int size = {c};

  private int calc(int a, int b) {{
    int c = a + b;
    if (c > {c}) {{
      c = c - 1;
    }}
    return c;
  }}

  public int run() {{
    int r = this.calc(1, 2);
    this.size = r;
    return this.size;
  }}
}}
'''


def _interleave(rng: random.Random, doc_key: str,
                code_spans: list[tuple[str, str]]) -> list[dict]:
    spans, off = [], 0
    for i, (kind, text) in enumerate(code_spans):
        spans.append({"kind": "text", "text": f"notes on {doc_key} part {i}",
                      "media_ref": None, "offset": off})
        off += 1
        spans.append({"kind": kind, "text": text, "media_ref": None,
                      "offset": off})
        off += 1
        if rng.random() < 0.3:
            spans.append({"kind": "media", "text": None,
                          "media_ref": f"blob://{doc_key}/{i}", "offset": off})
            off += 1
    return spans


def _spoke(rng: random.Random, k: int, h: int) -> tuple[str, str]:
    """(code, the Zipf-drawn name it calls)."""
    zipf = rng.choices(ZIPF_NAMES, weights=_ZIPF_W)[0]
    extras = "".join(_EXTRA.format(k=k, i=i, c=rng.randint(0, 99))
                     for i in range(rng.randint(0, 2)))
    return _SPOKE.format(k=k, h=h, c=rng.randint(5, 95), d=rng.randint(1, 9),
                         extras=extras, zipf=zipf), zipf


class Lifecycle:
    """Hub/spoke python corpus, a delta batch and Cypher reads.

    ``hub_callers[h]`` counts the spokes importing and calling hub ``h``,
    ``zipf_callers[name]`` the spokes calling ``name``; the query and
    delta answers are derived from them, not from the program."""

    def __init__(self, seed: int, n_docs: int, n_batch: int):
        rng = random.Random(f"lifecycle/{seed}")
        self.n_hubs = max(2, n_docs // 50)
        self.hub_callers = [0] * self.n_hubs
        self.zipf_callers: Counter = Counter()
        n_vendored = max(2, n_docs // DOCS_PER_VENDORED)
        self.docs: list[dict] = []
        self.code_spans: list[tuple[str, str]] = []
        for k in range(n_docs):
            if k < self.n_hubs:
                key, code = f"py/hub{k}/{k:08d}", _HUB.format(h=k)
                spans = [("code/python", code)]
            else:
                h = rng.randrange(self.n_hubs)
                self.hub_callers[h] += 1
                key = f"py/mod{k}/{k:08d}"
                code, zipf = _spoke(rng, k, h)
                self.zipf_callers[zipf] += 1
                spans = [("code/python", code)]
                if k % VENDOR_EVERY == 0:
                    v = rng.randrange(n_vendored)
                    spans.append(("code/python", _VENDOR.format(v=v)))
            self.code_spans.extend(spans)
            self.docs.append({"doc_id": key,
                              "spans": _interleave(rng, key, spans)})
        self.n_spokes = n_docs - self.n_hubs
        self.queries = self._queries(rng)
        self.batch = self._batch(seed, n_batch)

    def _batch(self, seed: int, n: int) -> list[dict]:
        """Docs of module ``ext`` committed after the build: each imports
        and calls a committed hub, and the first ones define the Zipf
        names that committed spokes import from ``ext`` and call."""
        rng = random.Random(f"lifecycle-delta/{seed}")
        docs = []
        for j in range(n):
            key = f"py/ext/{j:08d}"
            name = ZIPF_NAMES[j] if j < len(ZIPF_NAMES) else f"hook_{j}"
            code = _DELTA.format(j=j, h=rng.randrange(self.n_hubs),
                                 c=rng.randint(1, 99), name=name)
            docs.append({"doc_id": key, "spans": _interleave(
                rng, key, [("code/python", code)])})
        self.batch_defines = sorted(set(ZIPF_NAMES[:n]))
        return docs

    def _queries(self, rng: random.Random) -> list[tuple[str, int]]:
        """(cypher, expected row count) drawn from five templates."""
        spoke = lambda: rng.randrange(self.n_hubs, self.n_hubs + self.n_spokes)  # noqa: E731
        out = []
        for i in range(100):
            t = i % 5
            if t == 0:
                h = rng.randrange(self.n_hubs)
                out.append((f"MATCH (f:FunctionDeclaration) "
                            f"WHERE f.name = 'util_helper_{h}' RETURN f", 1))
            elif t == 1:
                k = spoke()
                out.append((f"MATCH (f:FunctionDeclaration)-[:PARAMETERS]->(p)"
                            f" WHERE f.name = 'calc_{k}' RETURN p", 2))
            elif t == 2:
                k = spoke()
                out.append((f"MATCH (r:RecordDeclaration)-[:METHODS]->(m)"
                            f"-[:PARAMETERS]->(p) WHERE r.name = 'Worker{k}' "
                            f"RETURN p LIMIT 10", METHOD_PARAMS))
            elif t == 3:
                h = rng.randrange(self.n_hubs)
                out.append((f"MATCH (c:CallExpression)-[:CALLS]->"
                            f"(f:FunctionDeclaration) WHERE f.name = "
                            f"'util_helper_{h}' RETURN c",
                            self.hub_callers[h]))
            else:
                k = spoke()
                out.append((f"MATCH (r:DeclaredReferenceExpression)"
                            f"-[:REFERS_TO]->(d) WHERE d.name = 'LIMIT_{k}' "
                            f"RETURN r", LIMIT_REFS))
        return out


class StreamIngest:
    """Distinct-content mixed-language docs: 60% python, 25% go, 15% java."""

    def __init__(self, seed: int, n_docs: int):
        rng = random.Random(f"stream/{seed}")
        n_hubs = max(2, n_docs // 50)
        self.docs: list[dict] = []
        self.code_spans: list[tuple[str, str]] = []
        self.py_spokes: list[int] = []
        self.go_mods: list[int] = []
        self.java_mods: list[int] = []
        for k in range(n_docs):
            r = k % 20
            if r < 12:
                key, kind = f"py/mod{k}/{k:08d}", "code/python"
                code, _ = _spoke(rng, k, rng.randrange(n_hubs))
                self.py_spokes.append(k)
            elif r < 17:
                key, kind = f"go/mod{k}/{k:08d}", "code/go"
                code = _GO.format(k=k, c=rng.randint(5, 95))
                self.go_mods.append(k)
            else:
                key, kind = f"java/JWorker{k}/{k:08d}", "code/java"
                code = _JAVA.format(k=k, c=rng.randint(5, 95))
                self.java_mods.append(k)
            self.code_spans.append((kind, code))
            self.docs.append({"doc_id": key,
                              "spans": _interleave(rng, key, [(kind, code)])})
        self.queries = self._queries(rng)

    def _queries(self, rng: random.Random) -> list[tuple[str, int]]:
        out = []
        for i in range(100):
            t = i % 5
            if t == 0:
                k = rng.choice(self.go_mods)
                out.append((f"MATCH (f:FunctionDeclaration) "
                            f"WHERE f.name = 'Calc{k}' RETURN f", 1))
            elif t == 1:
                k = rng.choice(self.py_spokes)
                out.append((f"MATCH (f:FunctionDeclaration)-[:PARAMETERS]->(p)"
                            f" WHERE f.name = 'calc_{k}' RETURN p", 2))
            elif t == 2:
                k = rng.choice(self.py_spokes)
                out.append((f"MATCH (r:RecordDeclaration)-[:METHODS]->(m)"
                            f"-[:PARAMETERS]->(p) WHERE r.name = 'Worker{k}' "
                            f"RETURN p LIMIT 10", METHOD_PARAMS))
            elif t == 3:
                k = rng.choice(self.java_mods)
                out.append((f"MATCH (r:RecordDeclaration)-[:METHODS]->(m) "
                            f"WHERE r.name = 'JWorker{k}' RETURN m",
                            JAVA_METHODS))
            else:
                k = rng.choice(self.py_spokes)
                out.append((f"MATCH (r:DeclaredReferenceExpression)"
                            f"-[:REFERS_TO]->(d) WHERE d.name = 'LIMIT_{k}' "
                            f"RETURN r", LIMIT_REFS))
        return out


# answers fixed by the templates above
METHOD_PARAMS = 1   # Worker.step(n): __init__ is a constructor, self a receiver
LIMIT_REFS = 3      # LIMIT_k read in calc_k once and in main_k twice
JAVA_METHODS = 2    # JWorker.calc + JWorker.run


def write_docs(docs: list[dict], out_dir: str, n_files: int) -> None:
    """Write ``docs`` as ``n_files`` parquet files (round-robin split)."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        part = docs[i::n_files]
        table = pa.Table.from_pylist(part, schema=DOCS_ARROW)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def input_properties(docs: list[dict],
                     code_spans: list[tuple[str, str]]) -> dict:
    """Docs, code spans, duplicate share, language mix and bytes."""
    distinct = len(set(code_spans))
    langs: dict[str, int] = {}
    for kind, _ in code_spans:
        lang = kind.split("/", 1)[1]
        langs[lang] = langs.get(lang, 0) + 1
    n = len(code_spans)
    return {
        "docs": len(docs),
        "code_spans": n,
        "distinct_code_spans": distinct,
        "dup_span_share": round((n - distinct) / n, 4) if n else 0.0,
        "lang_mix": {k: round(v / n, 4) for k, v in sorted(langs.items())},
        "code_bytes": sum(len(t.encode()) for _, t in code_spans),
    }
