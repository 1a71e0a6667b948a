"""Pre-parse span dedup (SURVEY S3; TranslationManager.kt:184-209 unity
build): identical spans parse once and relocate to every occurrence, with
output row-for-row identical to a plain per-span parse."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from cpg_spark.fixtures_templates import TEMPLATE_FIXTURES
from cpg_spark.frontends import FRONTENDS
from cpg_spark.frontends.eog import expand_expression_eog
from cpg_spark.operators.parse import (
    PARSE_OUT_SCHEMA,
    _SpanParseCache,
    _graph_rows,
    parse_docs,
    split_parse_output,
)
from cpg_spark.schemas import DOCS_SCHEMA
from cpg_spark.synth import fixture_docs

PY_SRC = "def dup(a, b):\n    c = a + b\n    return c\n"
BROKEN_PY = "def broken(:\n    pass\n"
COPIES = 3
_COLS = PARSE_OUT_SCHEMA.fieldNames()


def _key(values) -> tuple:
    # a collected map keeps no key order
    return tuple("<null>" if v is None
                 else str(sorted(v.items()) if isinstance(v, dict) else v)
                 for v in values)


def _colocated_ids(spark, bases) -> dict:
    """COPIES doc ids per base that share the salt ``parse_docs`` mixes
    into its content partitioning, so every copy of a span lands in one
    partition and the copies past the first two relocate a cached
    template (with distinct salts each copy would be a first sighting).
    Pigeonhole: 40 candidates over 8 salts leave some salt with >= 5."""
    cand = spark.createDataFrame(
        [(b, f"{b}/{k:04d}") for b in bases for k in range(1, 41)],
        "base string, doc_id string")
    groups: dict = defaultdict(lambda: defaultdict(list))
    for r in cand.select(
            "base", "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("salt")).collect():
        groups[r["base"]][r["salt"]].append(r["doc_id"])
    return {b: next(sorted(ids)[:COPIES] for _, ids in sorted(g.items())
                    if len(ids) >= COPIES)
            for b, g in groups.items()}


def _duplicate_corpus(spark) -> list[dict]:
    span = {"media_ref": None, "offset": 0}
    base_docs = {r["doc_id"].rsplit("/", 1)[0]: [s.asDict() for s in r["spans"]]
                 for r in fixture_docs(
                     spark, langs=("python", "go", "java", "cpp")).collect()}
    for name, src in TEMPLATE_FIXTURES.items():
        base_docs[f"cpp/tpl_{name}"] = [
            dict(span, kind="code/cpp", text=src)]
    base_docs["py/broken"] = [dict(span, kind="code/python", text=BROKEN_PY)]
    ids = _colocated_ids(spark, sorted(base_docs))
    return [{"doc_id": d, "spans": base_docs[b]}
            for b in sorted(base_docs) for d in ids[b]]


def _reference_rows(corpus) -> list[tuple]:
    """Plain per-span parse, no cache: frontend -> expression EOG ->
    rows."""
    rows = []
    for doc in corpus:
        for s in doc["spans"]:
            parser = FRONTENDS.get(s["kind"])
            if parser is None or s["text"] is None:
                continue
            g = parser(doc["doc_id"], s["offset"], s["text"])
            expand_expression_eog(g)
            rows.extend(_key(r.get(c) for c in _COLS)
                        for r in _graph_rows(g, doc["doc_id"], s["offset"]))
    return sorted(rows)


def test_duplicates_parse_identical_to_reference(spark):
    """Every fixture (python, go, java, cpp, the function templates and a
    syntax-broken span) present COPIES times: the production parse equals
    a plain per-span parse row for row, and relocated copies keep
    document-scoped ids."""
    corpus = _duplicate_corpus(spark)
    raw = parse_docs(spark.createDataFrame(corpus, schema=DOCS_SCHEMA))
    got = [r.asDict(recursive=True) for r in raw.collect()]
    assert sorted(_key(r[c] for c in _COLS) for r in got) == \
        _reference_rows(corpus)
    # Type nodes and inferred declarations carry content-hash ids by
    # design (ids.type_id / ids.inferred_id) and collapse at materialize
    located = [(r["node_id"], r["doc_id"]) for r in got
               if r["row_kind"] == "node" and r["label"] != "Type"
               and not r["is_inferred"]]
    assert [k for k, n in Counter(located).items() if n > 1] == []
    docs_of = defaultdict(set)
    for nid, doc in located:
        docs_of[nid].add(doc)
    assert {n: d for n, d in docs_of.items() if len(d) > 1} == {}
    problems = [r for r in got if r["label"] == "ProblemDeclaration"
                and r["doc_id"].startswith("py/broken/")]
    assert len(problems) == COPIES


def test_duplicated_span_parses_at_most_twice():
    """N occurrences of one span -> at most TWO frontend invocations
    (first sighting direct, second builds the relocatable template, the
    rest relocate); a distinct span parses exactly once with no
    sentinel/template overhead."""
    cache = _SpanParseCache()
    for i in range(6):
        rows = cache.rows_for("code/python", PY_SRC, f"py/d{i}/0001", 0)
        assert rows
    assert cache.parses == 2 and cache.hits == 4
    cache.rows_for("code/python", "x = 1\n", "py/solo/0001", 0)
    assert cache.parses == 3  # distinct span: one direct parse


def test_duplicate_spans_get_distinct_ids(spark):
    docs = spark.createDataFrame(
        [{"doc_id": f"py/dup{i}/0001",
          "spans": [{"kind": "code/python", "text": PY_SRC,
                     "media_ref": None, "offset": 0}]}
         for i in range(4)],
        schema=DOCS_SCHEMA)
    raw = parse_docs(docs).persist()
    nodes, edges, _, symbols = split_parse_output(raw)
    fn = nodes.filter((F.col("label") == "FunctionDeclaration")
                      & (F.col("name") == "dup"))
    rows = fn.select("node_id", "doc_id").collect()
    assert len(rows) == 4
    assert len({r["node_id"] for r in rows}) == 4  # relocated, not shared
    # module-sentinel replacement reached the symbol table
    mods = {r["module"] for r in symbols.filter(F.col("name") == "dup")
            .select("module").collect()}
    assert mods == {f"dup{i}" for i in range(4)}
    raw.unpersist()
