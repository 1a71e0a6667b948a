"""Deterministic synthetic interleaved-document corpus (seed-stable).

The pipeline's input contract (BASELINE.json input_hint) is an Iceberg table

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>)

of *interleaved* text + media + code spans.  The driver's TPC-H-ish testdata
has a plain ``documents(doc_id, text, ...)`` table, so we synthesize the
spans-shaped table two ways, both deterministic (no RNG state leaks — every
value is a pure function of (doc_id, seed)):

* :func:`code_docs` — one code span per doc from ``(doc_id, kind, text)``
  rows: the hand-written fixtures of the driver queries and tests.
* :func:`fixture_docs` — the reference repo's own per-language test programs
  as code spans, interleaved with text and media spans (FIXTURES.md §2: the
  pipeline must provably ignore non-code spans without disturbing order).
* :func:`generated_docs` — scale corpus: templated python modules with
  cross-document calls into hot "hub" modules (broadcast-join path) and
  Zipf-skewed call names (salted-join path), per FIXTURES.md §5.
* :func:`docs_from_plain_documents` — wraps the driver's plain documents
  table rows into the spans shape, attaching a deterministic generated code
  span per row, so ``entry(spark)`` runs off /root/testdata as required.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from cpg_spark.fixtures_cfamily import CPP_FIXTURES, JAVA_FIXTURES
from cpg_spark.fixtures_go import GO_FIXTURES
from cpg_spark.fixtures_py import PY_FIXTURES
from cpg_spark.schemas import DOCS_SCHEMA

# hot names follow a rough Zipf shape: earlier names are used far more often
_ZIPF_NAMES = ["print", "main", "helper", "run", "process", "get", "init",
               "update", "parse", "compute"]


def _h(s: str) -> int:
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")


def _interleave(code_spans: list[tuple[str, str]], doc_key: str) -> list[dict]:
    """Alternate code spans with text and media spans; offsets strictly
    increasing (the per-row invariant checked end-to-end)."""
    spans, off = [], 0
    for i, (kind, text) in enumerate(code_spans):
        spans.append({"kind": "text", "text": f"prose {doc_key} #{i}",
                      "media_ref": None, "offset": off})
        off += 1
        spans.append({"kind": kind, "text": text, "media_ref": None, "offset": off})
        off += 1
        if _h(f"{doc_key}/media/{i}") % 3 == 0:
            spans.append({"kind": "media", "text": None,
                          "media_ref": f"blob://{doc_key}/{i}", "offset": off})
            off += 1
    return spans


def code_docs(spark: SparkSession, rows) -> DataFrame:
    """One ``DOCS_SCHEMA`` doc per ``(doc_id, kind, text)`` or
    ``(doc_id, kind, text, offset)`` row, holding that one code span.
    The offset (default 0) is per-row data: it feeds the node-id hash."""
    return spark.createDataFrame(
        [{"doc_id": r[0],
          "spans": [{"kind": r[1], "text": r[2], "media_ref": None,
                     "offset": r[3] if len(r) > 3 else 0}]}
         for r in rows],
        schema=DOCS_SCHEMA)


def fixture_docs(spark: SparkSession, langs: tuple = ("python", "go")) -> DataFrame:
    rows = []
    if "python" in langs:
        for name, src in sorted(PY_FIXTURES.items()):
            rows.append({"doc_id": f"py/{name}/0001",
                         "spans": _interleave([("code/python", src)], name)})
    if "go" in langs:
        for name, src in sorted(GO_FIXTURES.items()):
            rows.append({"doc_id": f"go/{name}/0001",
                         "spans": _interleave([("code/go", src)], name)})
    if "java" in langs:
        for name, src in sorted(JAVA_FIXTURES.items()):
            rows.append({"doc_id": f"java/{name}/0001",
                         "spans": _interleave([("code/java", src)], name)})
    if "cpp" in langs:
        for name, src in sorted(CPP_FIXTURES.items()):
            rows.append({"doc_id": f"cpp/{name}/0001",
                         "spans": _interleave([("code/cpp", src)], name)})
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


_HUB_TEMPLATE = '''\
def util_helper_{h}(x, y):
    s = x + y
    return s

def util_format_{h}(v):
    t = str(v)
    return t
'''

_MODULE_TEMPLATE = '''\
from hub{h} import util_helper_{h}

GLOBAL_{k} = 100

def {fn1}(a, b):
    c = a + b
    if c > 10:
        c = c - 1
    else:
        c = c + 1
    return c

class Worker{k}:
    def __init__(self, size):
        self.size = size
    def step(self, n):
        self.last = n
        return self.last
    def run(self):
        self.step(1)
        return self.size

def {fn2}():
    w = Worker{k}()
    w.run()
    r = {fn1}(1, 2)
    q = util_helper_{h}(r, GLOBAL_{k})
    {zipf}(q)
    return q
'''


def generated_module(k: int, n_hubs: int, seed: int = 42) -> str:
    h = _h(f"{seed}/hub/{k}") % max(n_hubs, 1)
    # Zipf-ish skew: P(rank r) ~ 1/(r+1); realized via hashed thresholds
    z = _h(f"{seed}/zipf/{k}")
    r = 0
    acc, total = 0.0, sum(1.0 / (i + 1) for i in range(len(_ZIPF_NAMES)))
    x = (z % 10_000) / 10_000.0 * total
    for i in range(len(_ZIPF_NAMES)):
        acc += 1.0 / (i + 1)
        if x <= acc:
            r = i
            break
    return _MODULE_TEMPLATE.format(
        k=k, h=h, fn1=f"calc_{k}", fn2=f"main_{k}", zipf=_ZIPF_NAMES[r])


_GO_TEMPLATE = '''\
package mod{k}

import ("hub{h}")

func Calc{k}(a int, b int) int {{
    c := a + b
    if c > 10 {{
        c = c - 1
    }} else {{
        c = c + 1
    }}
    return c
}}

func Main{k}() int {{
    r := Calc{k}(1, 2)
    q := hub{h}.Helper(r)
    return q
}}
'''

_JAVA_TEMPLATE = '''\
package worker{k};

public class Worker{k} {{
  private int size = {k};

  private int calc(int a, int b) {{
    int c = a + b;
    if (c > 10) {{
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


def generated_docs_multilang(spark: SparkSession, n_docs: int,
                             n_hubs: int | None = None,
                             seed: int = 42) -> DataFrame:
    """Mixed-language scale corpus: ~60% python (hub/spoke), 25% go,
    15% java — exercises every frontend's vectorized path at volume."""
    if n_hubs is None:
        n_hubs = max(1, n_docs // 50)

    def gen(batches):
        import pandas as _pd
        for pdf in batches:
            out = []
            for k in pdf["id"]:
                k = int(k)
                if k < n_hubs:
                    doc_key, kind = f"py/hub{k}/{k:08d}", "code/python"
                    code = _HUB_TEMPLATE.format(h=k)
                elif k % 20 < 12:
                    doc_key, kind = f"py/mod{k}/{k:08d}", "code/python"
                    code = generated_module(k, n_hubs, seed)
                elif k % 20 < 17:
                    doc_key, kind = f"go/mod{k}/{k:08d}", "code/go"
                    code = _GO_TEMPLATE.format(k=k, h=_h(f"{seed}/gohub/{k}")
                                               % max(n_hubs, 1))
                else:
                    doc_key, kind = f"java/Worker{k}/{k:08d}", "code/java"
                    code = _JAVA_TEMPLATE.format(k=k)
                out.append({"doc_id": doc_key,
                            "spans": _interleave([(kind, code)], doc_key)})
            yield _pd.DataFrame(out)

    return (
        spark.range(n_docs)
        .repartition(max(32, n_docs // 2000))
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def generated_docs(spark: SparkSession, n_docs: int, n_hubs: int | None = None,
                   seed: int = 42) -> DataFrame:
    """Scale corpus: ``n_docs`` modules calling into ``n_hubs`` hub modules.

    Built distributedly: a range() DataFrame mapped through a pandas batch —
    the generator itself must scale to 10^12 docs, so no driver-side lists.
    """
    if n_hubs is None:
        n_hubs = max(1, n_docs // 50)
    import pandas as pd  # noqa: F401

    def gen(batches):
        for pdf in batches:
            out = []
            for k in pdf["id"]:
                k = int(k)
                if k < n_hubs:
                    # doc_id encodes the module name (hub<k>) so imports in
                    # mod docs resolve through the visibility gate
                    doc_key = f"py/hub{k}/{k:08d}"
                    code = _HUB_TEMPLATE.format(h=k)
                else:
                    doc_key = f"py/mod{k}/{k:08d}"
                    code = generated_module(k, n_hubs, seed)
                out.append({"doc_id": doc_key,
                            "spans": _interleave([("code/python", code)], doc_key)})
            import pandas as _pd
            yield _pd.DataFrame(out)

    return (
        spark.range(n_docs)
        .repartition(max(32, n_docs // 2000))
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def docs_from_plain_documents(spark: SparkSession, sf_dir: str,
                              limit: int | None = None) -> DataFrame:
    """Wrap the driver's plain documents table into the spans shape: the
    original text becomes a text span; a deterministic generated python
    module (keyed by doc_id) becomes the code span."""
    plain = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if limit:
        plain = plain.limit(limit)
    import pandas as _pd

    def wrap(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                k = int(doc_id)
                code = generated_module(k, n_hubs=max(1, k // 50 + 1))
                out.append({
                    "doc_id": f"py/doc/{k:08d}",
                    "spans": [
                        {"kind": "text", "text": text, "media_ref": None,
                         "offset": 0},
                        {"kind": "code/python", "text": code, "media_ref": None,
                         "offset": 1},
                        {"kind": "media", "text": None,
                         "media_ref": f"blob://doc/{k}", "offset": 2},
                    ],
                })
            yield _pd.DataFrame(out)

    return plain.select("doc_id", "text").mapInPandas(wrap, schema=DOCS_SCHEMA)
