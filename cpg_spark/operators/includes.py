"""Corpus-level ``#include`` loading (S4-adjacent; CXXIncludeTest.java).

The reference preprocesses each C/C++ translation unit with CDT: when
``loadIncludes`` is on, header content found under ``topLevel`` is parsed
into the includer's TU, gated by ``includeWhitelist`` /
``includeBlacklist`` with blacklist priority
(``TranslationConfiguration.java`` builder flags, exercised by
``CXXIncludeTest.java:107-246``).

Spark re-derivation: headers are themselves documents of the corpus, so
include loading is a JOIN, not file I/O —

* directives are extracted declaratively from the span text
  (``regexp_extract`` per line, no UDF),
* resolved against the corpus ``doc_id`` namespace (same-directory
  first, bare path second — CDT's quoted-include lookup order),
* filtered by the white/blacklists (blacklist wins), and
* the surviving headers' spans are spliced AHEAD of the includer's own
  spans, offsets renumbered to keep the span-sequence invariant.

Each spliced span keeps the header's own text verbatim, so node
locations parsed out of it are header-exact (testCodeAndRegionInInclude:
the constructor's region cites include.h line 16, not a line of the
preprocessed includer) — and the pre-parse span dedup (S3, every
``parse_docs`` call) still collapses the header to ONE
parse however many documents splice it: at corpus scale a hot header
spliced into 10^6 includers costs one frontend invocation plus
relocation, which is the whole point of keeping spans separate instead
of concatenating text like a real preprocessor.

Cross-span binding (the includer's out-of-line definitions against the
header's record) is the LINK stage's job — the same joins that bind
cross-document symbols bind same-document cross-span ones, mirroring
the reference where REFERS_TO/CALLS are whole-result passes, not
frontend work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INC_RE_ML = r'(?m)^[ \t]*#[ \t]*include[ \t]*["<]([^">]+)[">]'


def include_directives(docs: DataFrame) -> DataFrame:
    """(doc_id, inc_path, header_id, ord) — one row per directive that
    resolves to a corpus document.  ``ord`` preserves directive order
    (span position, then directive index).  Resolution prefers
    ``dirname(doc_id)/inc_path`` over the bare path, like CDT's
    quoted-include search starting at the including file's directory.

    Scale shape: one ``regexp_extract_all`` per span (multiline anchor)
    gated by a cheap ``contains('#')`` pre-filter — the overwhelmingly
    common no-include span costs one substring scan and produces ZERO
    rows; no per-line explode ever materializes."""
    ex = docs.select("doc_id", F.posexplode("spans").alias("sp", "s"))
    dirs = (
        ex.filter(F.col("s.text").isNotNull()
                  & F.col("s.text").contains("#"))
        .select(
            "doc_id", "sp",
            F.posexplode(
                F.regexp_extract_all("s.text", F.lit(_INC_RE_ML), F.lit(1))
            ).alias("ln", "inc_path"),
        )
        .withColumn("ord", F.col("sp") * F.lit(1 << 20) + F.col("ln"))
    )
    dirname = F.regexp_extract("doc_id", r"^(.*)/[^/]*$", 1)
    cands = dirs.select(
        "doc_id", "inc_path", "ord",
        F.posexplode(
            F.when(dirname != "",
                   F.array(F.concat(dirname, F.lit("/"), F.col("inc_path")),
                           F.col("inc_path")))
            .otherwise(F.array(F.col("inc_path")))
        ).alias("pref", "cand"),
    )
    ids = docs.select(F.col("doc_id").alias("header_id")).distinct()
    hit = cands.join(ids, cands["cand"] == ids["header_id"])
    # best candidate per directive: same-directory beats bare
    best = hit.groupBy("doc_id", "inc_path", "ord").agg(
        F.min_by("header_id", "pref").alias("header_id"))
    return best.select("doc_id", "inc_path", "header_id", "ord")


def _list_match(col, patterns):
    """Reference list semantics: an entry matches its absolute path or a
    path-suffix relative form (``includeBlacklist("include.h")`` matches
    ``.../resources/include.h`` — CXXIncludeTest
    testIncludeBlacklistRelative)."""
    cond = F.lit(False)
    for p in patterns or []:
        cond = cond | (col == p) | col.endswith("/" + p)
    return cond


def loaded_includes(docs: DataFrame, whitelist=None,
                    blacklist=None) -> DataFrame:
    """The directives that survive the white/blacklist gates — the
    reference TU's ``getIncludes()`` inventory.  An unset whitelist
    admits everything; the blacklist always wins
    (testIncludeBothLists)."""
    d = include_directives(docs)
    keep = F.lit(True)
    if whitelist:  # EMPTY whitelist = unrestricted, like the reference
        keep = keep & _list_match(F.col("header_id"), list(whitelist))
    if blacklist:
        keep = keep & ~_list_match(F.col("header_id"), list(blacklist))
    return d.filter(keep)


def load_includes(docs: DataFrame, whitelist=None, blacklist=None,
                  max_depth: int = 3) -> DataFrame:
    """Splice loaded headers' spans ahead of each includer's spans;
    returns a docs frame of the same schema (offsets renumbered 0..n-1
    to keep the strictly-increasing span invariant).

    Transitive includes close up to ``max_depth`` hops with a bounded
    join ladder (no per-round driver action — the depth is a constant,
    so the plan is a static self-join chain Catalyst can pipeline);
    self-inclusion cycles drop out via the ``doc_id != header_id``
    filter + per-(doc, header) dedup."""
    inc = loaded_includes(docs, whitelist, blacklist).select(
        "doc_id", "header_id", "ord")
    reach = inc
    frontier = inc
    for _ in range(1, max_depth):
        step = (
            frontier.alias("f")
            .join(inc.alias("i"),
                  F.col("f.header_id") == F.col("i.doc_id"))
            .select(F.col("f.doc_id").alias("doc_id"),
                    F.col("i.header_id").alias("header_id"),
                    # transitive headers keep the direct directive's slot,
                    # nudged after it so A's own includes precede A's text
                    (F.col("f.ord")).alias("ord"))
        )
        frontier = step
        reach = reach.unionByName(step)
    reach = (
        reach.filter(F.col("doc_id") != F.col("header_id"))
        .groupBy("doc_id", "header_id").agg(F.min("ord").alias("ord"))
    )
    hdr = reach.join(
        docs.select(F.col("doc_id").alias("header_id"),
                    F.col("spans").alias("h_spans")),
        "header_id",
    )
    agg = hdr.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ord", "header_id", "h_spans"))),
                lambda x: x["h_spans"],
            )
        ).alias("inc_spans")
    )
    spliced = F.concat(F.col("inc_spans"), F.col("spans"))
    renumbered = F.transform(
        spliced,
        lambda s, i: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset")),
    )
    return (
        docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("inc_spans").isNull(), F.col("spans"))
            .otherwise(renumbered).alias("spans"),
        )
    )
