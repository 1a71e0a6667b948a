"""CXXLiteralTest parity over the reference's own fixtures
(integer_literals.cpp, largenegativenumber.cpp): integer literals parse
per radix (hex 0x / binary 0b / octal leading-0 / decimal) and deduce
their type from the u/l suffixes plus the magnitude-promotion ladder
int → long → unsigned long long (CXXLiteralTest.java:50-196)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

INTEGER_LITERALS_CPP = """
void zero() {
  int i = 0;
  long l_with_suffix = 0l;
  long long l_long_long_with_suffix = 0ll;
  unsigned long long l_unsigned_long_long_with_suffix = 0ull;
}

void decimal() {
  int i = 42;
  long l = 9223372036854775807;
  long l_with_suffix = 9223372036854775807L;
  long long l_long_long_with_suffix = 9223372036854775807LL;
  unsigned long l_unsigned_long_with_suffix = 9223372036854775809ul;
  unsigned long long l_long_long_implicit = 9223372036854775808;
  unsigned long long l_unsigned_long_long_with_suffix = 9223372036854775809ull;
}

void octal() {
  int i = 052;
  long l_with_suffix = 052L;
  unsigned long long l_unsigned_long_long_with_suffix = 052ull;
}

void hex() {
  int i = 0x2a;
  long l_with_suffix = 0x2aL;
  unsigned long long l_unsigned_long_long_with_suffix = 0x2aull;
}

void binary() {
  int i = 0b101010;
  long l_with_suffix = 0b101010L;
  unsigned long long l_unsigned_long_long_with_suffix = 0b101010ull;
}
"""

LARGE_NEGATIVE_CPP = """
int main() {
  int a = -1;
  int b = -2147483648;
  long c = -2147483649;
  long d = -9223372036854775808;
}
"""


def _literal_types(spark, doc_id, src):
    """set of (spelled_token, value, type) for every int literal, via the
    props raw token, node name and EVAL_TYPE edge."""
    g = CpgGraph(code_docs(spark, [(doc_id, "code/cpp", src)]))
    nodes, edges = g.nodes, g.edges
    lits = nodes.filter(F.col("label") == "Literal").select(
        F.col("node_id").alias("lit"), F.col("name").alias("value"),
        F.col("props").getItem("value").alias("token"))
    tedges = edges.filter(F.col("pred") == "EVAL_TYPE").select(
        F.col("subj").alias("lit"), F.col("obj").alias("tid"))
    tnames = nodes.filter(F.col("label") == "Type").select(
        F.col("node_id").alias("tid"), F.col("name").alias("type"))
    return {(r["token"], r["value"], r["type"])
            for r in lits.join(tedges, "lit").join(tnames, "tid").collect()}


@pytest.fixture(scope="module")
def lits(spark):
    return _literal_types(spark, "cpp/lit/0001", INTEGER_LITERALS_CPP)


def test_zero_literals(lits):
    assert ("0", "0", "int") in lits
    assert ("0l", "0", "long") in lits
    assert ("0ll", "0", "long long") in lits
    assert ("0ull", "0", "unsigned long long") in lits


def test_decimal_literals(lits):
    assert ("42", "42", "int") in lits
    # unsuffixed 2^63-1 still fits long (CXXLiteralTest 'still fits')
    assert ("9223372036854775807", "9223372036854775807", "long") in lits
    assert ("9223372036854775807L", "9223372036854775807", "long") in lits
    assert ("9223372036854775807LL", "9223372036854775807",
            "long long") in lits
    assert ("9223372036854775809ul", "9223372036854775809",
            "unsigned long") in lits
    # unsuffixed 2^63 overflows signed -> implicit unsigned long long
    assert ("9223372036854775808", "9223372036854775808",
            "unsigned long long") in lits
    assert ("9223372036854775809ull", "9223372036854775809",
            "unsigned long long") in lits


def test_octal_hex_binary(lits):
    for spelling in ("052", "0x2a", "0b101010"):
        assert (spelling, "42", "int") in lits
    for spelling in ("052L", "0x2aL", "0b101010L"):
        assert (spelling, "42", "long") in lits
    for spelling in ("052ull", "0x2aull", "0b101010ull"):
        assert (spelling, "42", "unsigned long long") in lits


def test_large_negative(spark):
    """testLargeNegativeNumber (CXXLiteralTest.java:152-196): there are
    no negative literals — the value under the unary minus promotes by
    magnitude alone."""
    got = _literal_types(spark, "cpp/lit/0002", LARGE_NEGATIVE_CPP)
    assert ("1", "1", "int") in got
    assert ("2147483648", "2147483648", "long") in got
    assert ("2147483649", "2147483649", "long") in got
    assert ("9223372036854775808", "9223372036854775808",
            "unsigned long long") in got
