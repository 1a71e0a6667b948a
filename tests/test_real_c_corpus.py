"""Pre-ANSI / real-world C robustness: the construct classes found by
sweeping the machine's zlib/libstemmer example programs (real C the
grammar was never tuned on).  The sweep itself runs when the files
exist; the construct pins always run.

Classes (each was a real zlib failure): decoration macros before types
(`local int f()`, `z_const unsigned char *p`), K&R parameter
declarations, adjacent string-literal concatenation (incl. a macro
between pieces), casts to unknown/decorated types (`(sb_symbol *)x`,
`(uInt)len`, `(z_const unsigned char *)s`, `(unsigned long)*p++`),
the `unknownType * name = ...` typedef ambiguity, comma conditions
(`while (argv++, --argc)`), ident-dimension arrays
(`code t[ENOUGH]`), and directives inside function bodies."""

from __future__ import annotations

import glob

import pytest

from cpg_spark.frontends.cfamily_frontend import parse_cpp_document


def _gaps(g):
    return [n for n in g.nodes
            if "Problem" in (n.get("label") or "")
            or (n["label"] == "Expression" and not (n.get("name") or ""))]


def test_real_c_construct_classes_parse_clean():
    snippets = {
        "decoration_macro_fn": "local int out(void *desc, unsigned char"
                               " *buf, unsigned len) { return 0; }",
        "decoration_macro_param": "int f(z_const unsigned char *next)"
                                  " { return *next; }",
        "knr_params": "void file_uncompress(file)\n    char *file;\n"
                      "{\n    use(file);\n}",
        "string_concat": 'void f(long sum) '
                         '{ printf("%" PRIbig " total\\n", sum); }',
        "cast_unknown_ptr": "int main() { sb_symbol * b = (sb_symbol *)"
                            " malloc(10); use(b); return 0; }",
        "cast_unknown_plain": "void f(long len) { g((uInt)len); }",
        "cast_decorated": "void f(char* hello) { const unsigned char* p"
                          " = (z_const unsigned char *)hello; use(p); }",
        "cast_known_deref": "void f(char* put, int num, long buf)"
                            " { buf += (unsigned long)*put++ << num; }",
        "comma_condition": "int main(int argc, char **argv) { do {"
                           " g(*argv); } while (argv++, --argc);"
                           " return 0; }",
        "ident_array_dim": "void f() { code *next, table[ENOUGH_DISTS];"
                           " use(next, table); }",
        "define_in_body": "int main() {\n#define INC 10\n  int x = 1;"
                          " return x; }",
    }
    for name, src in snippets.items():
        g = parse_cpp_document(name + ".c", 0, src)
        assert not _gaps(g), (name, [(n["label"],
                                      n.get("name") or n.get("code"))
                                     for n in _gaps(g)])


def test_knr_params_are_typed():
    g = parse_cpp_document(
        "k.c", 0,
        "void file_uncompress(file)\n    char *file;\n{\n  use(file);\n}")
    pids = [n["node_id"] for n in g.nodes
            if n["label"] == "ParamVariableDeclaration"
            and n["name"] == "file"]
    assert len(pids) == 1
    types = {n["name"] for n in g.nodes if n["label"] == "Type"}
    assert "char*" in types


def test_adjacent_strings_fold_to_one_literal():
    g = parse_cpp_document("s.c", 0,
                           'const char* s = "some " "text";')
    lits = [n for n in g.nodes if n["label"] == "Literal"]
    assert [n["name"] for n in lits] == ["some text"]


ZLIB = sorted(glob.glob("/usr/share/doc/zlib1g-dev/examples/*.c"))


@pytest.mark.skipif(len(ZLIB) < 5, reason="no zlib examples on this box")
def test_zlib_examples_parse_with_zero_degradation():
    tot_nodes = tot_gaps = 0
    for f in ZLIB:
        with open(f, errors="replace") as fh:
            src = fh.read()
        g = parse_cpp_document(f, 0, src)
        assert not g.id_faults(), (f, g.id_faults()[:5])
        tot_nodes += len(g.nodes)
        tot_gaps += len(_gaps(g))
    assert tot_nodes > 8_000
    assert tot_gaps == 0, f"{tot_gaps} degraded nodes over {len(ZLIB)} files"
