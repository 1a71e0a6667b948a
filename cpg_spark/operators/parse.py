"""Parse stage: interleaved docs -> CPG rows, one vectorized pass.

Spark shape of the reference frontend stage (``TranslationManager.kt
runFrontends :146-245`` + per-file parallel parse ``:247-299``): every
partition parses its spans in one Arrow batch stream via ``mapInArrow``
— per-span work (AST build, EOG, provisional DFG, local scope resolution)
never shuffles (SURVEY.md §7.0).  Frontend dispatch by span ``kind``
replaces dispatch by file extension (``TranslationManager.kt:373-405``).

The stage emits ONE unified row stream (``row_kind`` discriminator) so the
expensive parse runs exactly once; the four logical tables (nodes, edges,
mentions, symbols) are cheap filters over the checkpointed output with
``row_kind`` predicate pushdown.

The kernel writes typed Arrow rows: each output chunk is one
``pa.RecordBatch.from_pylist`` over :data:`PARSE_OUT_SCHEMA`, whose
``props`` is a ``map<string,string>``, ``loc`` a struct and the id, type
and name lists arrays — the column types the four tables carry, so
:func:`split_parse_output` only filters and renames.  The cost of a
Python UDF lies in its boundary conversion (CIDR'22, *Accelerating Python
UDFs in Vectorized Query Execution*); building the batch straight from
the row dicts skips a pandas frame and any string encoding of nested
values.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cpg_spark.schemas import LOC_SCHEMA

_PROPS = T.MapType(T.StringType(), T.StringType())
_IDS = T.ArrayType(T.LongType())
_STRS = T.ArrayType(T.StringType())

PARSE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("row_kind", T.StringType(), False),  # node|edge|mention|symbol
        T.StructField("doc_id", T.StringType(), True),
        # node fields (ids are signed int64 content hashes — cpg_spark.ids)
        T.StructField("node_id", T.LongType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("code", T.StringType(), True),
        T.StructField("span_offset", T.IntegerType(), True),
        T.StructField("loc", LOC_SCHEMA, True),
        T.StructField("is_inferred", T.BooleanType(), True),
        T.StructField("is_implicit", T.BooleanType(), True),
        T.StructField("argument_index", T.IntegerType(), True),
        T.StructField("props", _PROPS, True),
        # edge fields (props/doc_id shared)
        T.StructField("subj", T.LongType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.LongType(), True),
        # mention fields (name shared)
        T.StructField("m_kind", T.StringType(), True),
        T.StructField("m_base_type", T.StringType(), True),
        T.StructField("m_scope_path", T.StringType(), True),
        T.StructField("m_n_args", T.IntegerType(), True),
        T.StructField("m_n_kwargs", T.IntegerType(), True),
        T.StructField("m_arg_ids", _IDS, True),
        T.StructField("m_arg_types", _STRS, True),  # '' = unknown
        # symbol fields (name shared)
        T.StructField("s_kind", T.StringType(), True),
        T.StructField("s_fqn", T.StringType(), True),
        T.StructField("s_record", T.StringType(), True),
        T.StructField("s_module", T.StringType(), True),
        T.StructField("s_n_params", T.IntegerType(), True),
        T.StructField("s_param_ids", _IDS, True),
        T.StructField("s_param_names", _STRS, True),
        # signature detail for overload resolution (CallResolver.java:847-1014
        # subset): defaulted-parameter count, spelled parameter types,
        # variadic flag — null where a frontend does not model signatures
        T.StructField("s_n_defaults", T.IntegerType(), True),
        T.StructField("s_param_types", _STRS, True),  # '' = unknown
        T.StructField("s_is_variadic", T.BooleanType(), True),
    ]
)


def _strs(xs) -> list | None:
    # list convention of the parse output: an empty list is null, an
    # unknown entry of a string list is ''
    return ["" if x is None else x for x in xs] if xs else None


# sentinel document for relocatable parsing (pre-parse span dedup, SURVEY
# S3 / TranslationManager.kt:184-209 unity-build dedup): \x00 cannot occur
# in real doc ids or module names, so the string-level relocation below can
# never corrupt genuine content
_SENT_MOD = "\x00M"
_SENT_DOC = f"{_SENT_MOD}/{_SENT_MOD}/0000"


def _graph_rows(g, doc_id: str, offset: int) -> list[dict]:
    """PARSE_OUT_SCHEMA row dicts for one span's DocGraph (a direct parse,
    or the relocatable template of a duplicate).  Node and edge dicts
    already carry their table's columns."""
    rows: list[dict] = [{"row_kind": "node", **n} for n in g.nodes]
    # per-span (subj, pred, obj) dedup: doc-scoped content-hash ids can
    # only collide within one span, so the global edge table stays
    # duplicate-free by construction and materialize skips the
    # full-corpus edge shuffle
    seen_e: set = set()
    for e in g.edges:
        key = (e["subj"], e["pred"], e["obj"])
        if key in seen_e:
            continue
        seen_e.add(key)
        rows.append({"row_kind": "edge", **e})
    for m in g.mentions:
        rows.append({
            "row_kind": "mention", "doc_id": m["doc_id"],
            "node_id": m["mention_id"], "name": m["name"],
            "m_kind": m["kind"], "m_base_type": m["base_type"],
            "m_scope_path": m["scope_path"], "m_n_args": m["n_args"],
            "m_n_kwargs": m["n_kwargs"],
            "m_arg_ids": m["arg_ids"] or None,
            "m_arg_types": _strs(m.get("arg_types")),
            "span_offset": offset,
        })
    for s in g.symbols:
        rows.append({
            "row_kind": "symbol", "doc_id": s["doc_id"],
            "node_id": s["decl_id"], "name": s["name"],
            "s_kind": s["kind"], "s_fqn": s["fqn"], "s_record": s["record"],
            "s_module": s["module"], "s_n_params": s["n_params"],
            "s_param_ids": s["param_ids"] or None,
            "s_param_names": _strs(s["param_names"]),
            "s_n_defaults": s.get("n_defaults"),
            "s_param_types": _strs(s.get("param_types")),
            "s_is_variadic": s.get("is_variadic"),
            "span_offset": offset,
        })
    return rows


def _relocated_rows(entry, doc_id: str, offset: int) -> list[dict]:
    """Re-key a sentinel-parsed row template to a real (doc_id, offset):
    location-derived ids, in id columns and id lists alike, are re-hashed
    through the id_log's (path, label) keys; sentinel module strings in
    names/fqns/scope paths are replaced; content-derived ids (types,
    inferred) and props pass through untouched (no row rebuild — the
    relocation must cost far less than the parse it replaces)."""
    from cpg_spark.frontends.base import module_for_doc
    from cpg_spark.ids import node_id as _hash_node_id

    template, id_log = entry
    module = module_for_doc(doc_id)
    rename = {old: _hash_node_id(doc_id, offset, p, lb)
              for old, (p, lb) in id_log.items()}
    rget = rename.get
    out: list[dict] = []
    for r in template:
        r2 = dict(r)
        r2["doc_id"] = doc_id
        if r2.get("span_offset") is not None:
            r2["span_offset"] = offset
        rk = r2["row_kind"]
        if rk == "edge":
            s = r2["subj"]
            r2["subj"] = rget(s, s)
            o = r2["obj"]
            r2["obj"] = rget(o, o)
        else:
            n = r2["node_id"]
            r2["node_id"] = rget(n, n)
            if rk == "node":
                nm = r2["name"]
                if nm and _SENT_MOD in nm:
                    r2["name"] = nm.replace(_SENT_MOD, module)
            elif rk == "mention":
                sp = r2["m_scope_path"]
                if sp and _SENT_MOD in sp:
                    r2["m_scope_path"] = sp.replace(_SENT_MOD, module)
                ai = r2["m_arg_ids"]
                if ai:
                    r2["m_arg_ids"] = [rget(x, x) for x in ai]
            else:  # symbol
                for fkey in ("s_fqn", "s_module"):
                    v = r2[fkey]
                    if v and _SENT_MOD in v:
                        r2[fkey] = v.replace(_SENT_MOD, module)
                pi = r2["s_param_ids"]
                if pi:
                    r2["s_param_ids"] = [rget(x, x) for x in pi]
        out.append(r2)
    return out


# frontends that consume preprocessor symbol maps (compdb -D defines /
# TranslationConfiguration.symbols — CXXSymbolConfigurationTest)
_SYMBOL_KINDS = {"code/cpp", "code/java"}


class _SpanParseCache:
    """Per-partition two-sighting parse cache, keyed by (kind, sha1(text),
    defines) — the defines only for the symbol-map frontends, so identical
    text under different ``-D`` maps never shares a template.

    First sighting of a span parses DIRECTLY under its real (doc, offset)
    — an all-distinct corpus pays zero dedup overhead beyond the content
    shuffle (the round-2 scaling bench showed sentinel-parse+relocate on
    every miss taxed distinct corpora ~40%).  The second sighting parses
    once more under the sentinel document and caches a relocatable row
    template; every further duplicate is a cheap relocation.  With the
    span stream repartitioned on the salted content hash, duplicates
    colocate, so a span duplicated N times parses at most 2×salt-K times
    total instead of N."""

    def __init__(self, cap: int = 256, py_parity: bool = False):
        from collections import OrderedDict

        self._d: "OrderedDict" = OrderedDict()
        self._first: set = set()  # keys of once-seen spans
        self.cap = cap
        self.py_parity = py_parity
        self.parses = 0
        self.hits = 0

    def _parse(self, parser, doc_id, offset, text):
        from cpg_spark.frontends.eog import expand_expression_eog

        g = parser(doc_id, offset, text)
        self.parses += 1
        # expression-level EOG rewrite (EvaluationOrderGraphPass.java
        # :917-951 runs at expression granularity), applied BEFORE the
        # relocation template is built, so cached duplicates relocate
        # those edges like any others
        expand_expression_eog(g)
        return g

    def rows_for(self, kind: str, text: str, doc_id: str, offset: int,
                 defines=None):
        import hashlib
        from functools import partial

        # imported lazily so the workers pick up the shipped package
        from cpg_spark.frontends import FRONTENDS

        parser = FRONTENDS.get(kind)
        if parser is None:
            return []  # non-code spans pass through untouched
        symbols = None
        if defines and kind in _SYMBOL_KINDS:
            symbols = dict(defines)
            parser = partial(parser, symbols=symbols)
        elif self.py_parity and kind == "code/python":
            # reference-parity gap matrix for the P/R oracle gates
            # (python_frontend parity_mode docstring)
            parser = partial(parser, parity_mode=True)
        key = (kind, hashlib.sha1(text.encode("utf-8", "replace")).digest(),
               tuple(sorted(symbols.items())) if symbols else None)
        ent = self._d.get(key)
        if ent is not None:
            self._d.move_to_end(key)
            self.hits += 1
            return _relocated_rows(ent, doc_id, offset)
        if key in self._first:
            # a real duplicate: build the relocatable template now
            g = self._parse(parser, _SENT_DOC, 0, text)
            ent = (_graph_rows(g, _SENT_DOC, 0), g.id_log)
            self._d[key] = ent
            if len(self._d) > self.cap:
                self._d.popitem(last=False)
            self._first.discard(key)
            return _relocated_rows(ent, doc_id, offset)
        self._first.add(key)
        g = self._parse(parser, doc_id, offset, text)
        return _graph_rows(g, doc_id, offset)


def parse_docs(docs: DataFrame, py_parity: bool = False) -> DataFrame:
    """docs(doc_id, spans[, defines]) -> unified parse rows
    (PARSE_OUT_SCHEMA), row-for-row what a plain per-span parse gives.

    The docs explode into a span stream that each partition parses through
    a :class:`_SpanParseCache` (SURVEY S3, the unity-build dedup of
    TranslationManager.kt:184-209): duplicates past the second sighting
    re-key a cached graph instead of parsing — on duplicate-heavy corpora
    (vendored files, headers, boilerplate) the biggest parse-cost lever.
    Batch input is repartitioned on the span content so duplicates
    colocate, at twice the cluster parallelism so the CPU-bound parse
    fans out (the small docs checkpoint scans as few partitions; span
    rows are tiny, the shuffle is cheap, the parse is not).  Streaming
    input parses each micro-batch in place.

    An optional ``defines`` map column (compdb ``-D`` symbols,
    ``sources.compdb.docs_with_defines``) reaches the C++ and Java
    frontends; ``py_parity=True`` parses Python in the reference-parity
    mode the P/R oracle gates compare against."""
    defines = (F.col("defines") if "defines" in docs.columns
               else F.lit(None).cast("map<string,string>"))
    spans = docs.select(
        "doc_id", defines.alias("defines"),
        F.explode(F.expr(
            "transform(spans, (s, i) -> struct("
            "s.kind as kind, s.text as text, s.offset as offset, "
            "CASE WHEN i = 0 THEN CAST(NULL AS INT) "
            "ELSE spans[i-1].offset END as prev_offset))"
        )).alias("s"),
    ).select("doc_id", "defines", "s.kind", "s.text", "s.offset",
             "s.prev_offset")
    if not docs.isStreaming:
        # salt the content key: a span duplicated across the whole corpus
        # would otherwise land on ONE core (the classic hot-key skew —
        # measured 4x slower than no dedup on a header-heavy corpus).
        # With salt K each distinct span parses at most K times while its
        # occurrences relocate on K cores — K bounds the redundancy, the
        # corpus size doesn't (K = 8).
        spans = spans.repartition(
            2 * docs.sparkSession.sparkContext.defaultParallelism,
            F.xxhash64("kind", "text"),
            F.pmod(F.xxhash64("doc_id"), F.lit(8)),
        )

    # pyspark's Spark -> Arrow type mapping (no pandas involved), the one
    # the worker checks the returned batches against
    arrow_schema = to_arrow_schema(PARSE_OUT_SCHEMA)

    def run(batches):
        cache = _SpanParseCache(py_parity=py_parity)
        # yield in bounded chunks: accumulating a whole input batch
        # (~700k row dicts) before converting turns linear parse into
        # superlinear GC churn; ~64k-row batches keep workers flat
        out: list[dict] = []
        for batch in batches:
            for doc_id, defs, kind, text, offset, prev in zip(
                    *(batch.column(c).to_pylist() for c in (
                        "doc_id", "defines", "kind", "text", "offset",
                        "prev_offset"))):
                # span-sequence invariant (BASELINE input_hint): offsets
                # strictly increasing in array order, enforced in-flight
                # on adjacent pairs (zero extra jobs — a driver-side
                # validation pass would cost a full corpus scan)
                if prev is not None and offset is not None and offset <= prev:
                    raise ValueError(
                        f"span-sequence invariant violated in doc {doc_id}: "
                        f"offset {offset} after {prev}")
                if text is None or offset is None:
                    continue
                out.extend(cache.rows_for(kind, text, doc_id, offset, defs))
                if len(out) >= 65536:
                    yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)
                    out = []
        if out:
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return spans.mapInArrow(run, schema=PARSE_OUT_SCHEMA)


def split_parse_output(raw: DataFrame):
    """Four logical typed tables from the unified row stream: ``row_kind``
    filters and column pruning push down to the parquet scan of the
    checkpointed stage output."""
    nodes = raw.filter(F.col("row_kind") == "node").select(
        "node_id", "label", "name", "code", "doc_id", "span_offset", "loc",
        "is_inferred", "is_implicit", "argument_index", "props")
    edges = raw.filter(F.col("row_kind") == "edge").select(
        "subj", "pred", "obj", "props", "doc_id")
    mentions = raw.filter(F.col("row_kind") == "mention").select(
        F.col("node_id").alias("mention_id"), F.col("m_kind").alias("kind"),
        "name", F.col("m_base_type").alias("base_type"),
        F.col("m_scope_path").alias("scope_path"), "doc_id",
        F.col("m_n_args").alias("n_args"), F.col("m_n_kwargs").alias("n_kwargs"),
        F.col("m_arg_ids").alias("arg_ids"),
        F.col("m_arg_types").alias("arg_types"))
    symbols = raw.filter(F.col("row_kind") == "symbol").select(
        F.col("node_id").alias("decl_id"), F.col("s_kind").alias("kind"),
        "name", F.col("s_fqn").alias("fqn"), F.col("s_record").alias("record"),
        F.col("s_module").alias("module"), "doc_id",
        F.col("s_n_params").alias("n_params"),
        F.col("s_param_ids").alias("param_ids"),
        F.col("s_param_names").alias("param_names"),
        F.col("s_n_defaults").alias("n_defaults"),
        F.col("s_param_types").alias("param_types"),
        F.col("s_is_variadic").alias("is_variadic"))
    return nodes, edges, mentions, symbols
