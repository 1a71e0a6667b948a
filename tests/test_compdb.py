"""Compilation-database source (SURVEY S4; reference
CompilationDatabase.kt + its compile_commands.json test resources):
both JSON schema forms parse, -I/-D options extract per TU, and the
joined docs run through the normal parse stage."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cpg_spark.sources.compdb import compdb_docs, read_compilation_database

COMPDB = [
    {  # `arguments` array form
        "directory": "/src",
        "arguments": ["clang++", "-Iinclude", "-I/usr/inc", "-DDEBUG",
                      "-DMAX=4", "-c", "main.cpp"],
        "file": "main.cpp",
    },
    {  # `command` string form + absolute file
        "directory": "/src/lib",
        "command": "gcc -I/opt/inc -DVERBOSE=0 -c /src/lib/util.c",
        "file": "/src/lib/util.c",
    },
]

SOURCES = [
    ("/src/main.cpp", "int main() { int a = 1; return a; }\n"),
    ("/src/lib/util.c", "int util(int x) { return x; }\n"),
]


@pytest.fixture(scope="module")
def compdb(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("compdb") / "compile_commands.json"
    p.write_text(json.dumps(COMPDB))
    return read_compilation_database(spark, str(p))


def test_options_extracted(compdb):
    rows = {r["file"]: r for r in compdb.collect()}
    m = rows["main.cpp"]
    assert m["include_dirs"] == ["include", "/usr/inc"]
    assert m["defines"] == {"DEBUG": "1", "MAX": "4"}
    assert m["abs_path"] == "/src/main.cpp"
    u = rows["/src/lib/util.c"]
    assert u["include_dirs"] == ["/opt/inc"]
    assert u["defines"] == {"VERBOSE": "0"}
    assert u["abs_path"] == "/src/lib/util.c"


def test_docs_join_and_parse(spark, compdb):
    from cpg_spark.pipeline import CpgGraph

    sources = spark.createDataFrame(SOURCES, "path string, content string")
    docs, options = compdb_docs(compdb, sources)
    d = {r["doc_id"]: r["spans"] for r in docs.collect()}
    assert set(d) == {"/src/main.cpp", "/src/lib/util.c"}
    assert d["/src/main.cpp"][0]["kind"] == "code/cpp"
    opt = {r["doc_id"]: r for r in options.collect()}
    assert opt["/src/main.cpp"]["defines"]["MAX"] == "4"
    # the docs flow through the normal parse stage
    nodes = CpgGraph(docs).nodes
    fns = {r["name"] for r in
           nodes.filter(F.col("label") == "FunctionDeclaration").collect()}
    assert {"main", "util"} <= fns


SYMBOLS_CPP = """#include <iostream>

// the macros are not defined here but in the translation configuration
//#define HELLO_WORLD "Hello World"
//#define INCREASE(X) X+1

int main() {
    std::cout << HELLO_WORLD;
    std::cout << INCREASE(2);
}
"""


def test_symbol_configuration_without_symbols():
    """CXXSymbolConfigurationTest.testWithoutSymbols: with no symbol map
    the first use stays a DeclaredReferenceExpression and the second a
    CallExpression to something unknown."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    g = parse_cpp_document("res/symbols.cpp", 0, SYMBOLS_CPP)
    labels = {(n["label"], n["name"]) for n in g.nodes}
    assert ("DeclaredReferenceExpression", "HELLO_WORLD") in labels
    assert ("CallExpression", "INCREASE") in labels


def test_symbol_configuration_with_symbols():
    """CXXSymbolConfigurationTest.testWithSymbols: HELLO_WORLD expands to
    a string literal, INCREASE(2) to the binary operation 2+1, every
    expanded node located at the invocation site."""
    from cpg_spark.frontends.cfamily_frontend import parse_cpp_document

    g = parse_cpp_document(
        "res/symbols.cpp", 0, SYMBOLS_CPP,
        symbols={"HELLO_WORLD": '"Hello World"', "INCREASE(X)": "X+1"})
    by = {(n["label"], n["name"]): n for n in g.nodes}
    assert ("DeclaredReferenceExpression", "HELLO_WORLD") not in by
    assert ("CallExpression", "INCREASE") not in by
    lit = by[("Literal", "Hello World")]
    assert lit["loc"]["start_line"] == 8  # invocation site, not macro text
    add = by[("BinaryOperator", "+")]
    assert add["props"]["operator"] == "+"
    assert ("Literal", "2") in by and ("Literal", "1") in by
    assert by[("Literal", "1")]["loc"]["start_line"] == 9


def test_defines_flow_through_parse_docs(spark, compdb):
    """compdb -D defines reach the frontend: a doc whose code uses MAX
    (defined -DMAX=4) folds it to the literal 4 via docs_with_defines.
    A parameter type spelled with a comma stays one list entry."""
    from cpg_spark.operators.parse import parse_docs, split_parse_output
    from cpg_spark.schemas import DOCS_SCHEMA
    from cpg_spark.sources.compdb import docs_with_defines

    sources = spark.createDataFrame(SOURCES, "path string, content string")
    _, options = compdb_docs(compdb, sources)
    docs = spark.createDataFrame(
        [{"doc_id": "/src/main.cpp",
          "spans": [{"kind": "code/cpp",
                     "text": "int main() { int a = MAX; return a; }\n"
                             "void f(std::map<int, int> m, int x) {}\n",
                     "media_ref": None, "offset": 0}]}],
        DOCS_SCHEMA)
    nodes, _, _, symbols = split_parse_output(
        parse_docs(docs_with_defines(docs, options)))
    lits = {r["name"] for r in
            nodes.filter(F.col("label") == "Literal").collect()}
    assert "4" in lits
    refs = nodes.filter((F.col("label") == "DeclaredReferenceExpression")
                        & (F.col("name") == "MAX"))
    assert refs.count() == 0
    f = symbols.filter(F.col("name") == "f").collect()
    assert [(r["n_params"], len(r["param_types"])) for r in f] == [(2, 2)]


MAX_SRC = "int main() { int a = MAX; return a; }\n"


def test_defines_key_the_span_cache(spark):
    """One C++ span under two -D maps: each map folds its own literal and
    every doc keeps its own node ids — identical text never shares a
    cached parse across different defines."""
    from cpg_spark.operators.parse import (
        _SpanParseCache, parse_docs, split_parse_output)
    from cpg_spark.synth import code_docs

    maxes = {"cpp/a/0001": "4", "cpp/b/0001": "9",
             "cpp/c/0001": "4", "cpp/d/0001": "9"}
    docs = code_docs(spark, [(d, "code/cpp", MAX_SRC) for d in maxes])
    defines = spark.createDataFrame(
        [(d, {"MAX": v}) for d, v in maxes.items()],
        "doc_id string, defines map<string,string>")
    nodes, _, _, _ = split_parse_output(
        parse_docs(docs.join(defines, "doc_id")))
    lits = {(r["doc_id"], r["name"]) for r in
            nodes.filter(F.col("label") == "Literal").collect()}
    assert lits == set(maxes.items())
    mains = nodes.filter((F.col("label") == "FunctionDeclaration")
                         & (F.col("name") == "main")).collect()
    assert sorted(r["doc_id"] for r in mains) == sorted(maxes)
    assert len({r["node_id"] for r in mains}) == 4

    # one partition's cache sees the maps interleaved: the third round
    # relocates a template, each from its own map's parse
    cache = _SpanParseCache()
    for i in range(3):
        for v in ("4", "9"):
            rows = cache.rows_for("code/cpp", MAX_SRC, f"cpp/m{i}{v}/0001",
                                  0, {"MAX": v})
            assert {r["name"] for r in rows if r.get("label") == "Literal"} \
                == {v}
    assert cache.hits == 2
