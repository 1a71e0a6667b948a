"""Wildcard-import expansion (ImportResolver.java:62-120): a
``from mod import *`` mention refers to every module-level symbol of the
source module, and names used through it resolve cross-document."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

LIB = ("def fa(x):\n    return x\n\n"
       "def fb():\n    return 2\n\n"
       "VA = 7\n")
USE = ("from amod import *\n\n"
       "def main():\n    y = fa(1)\n    return y\n")


@pytest.fixture(scope="module")
def graph(spark):
    return CpgGraph(code_docs(spark, [("py/amod/0001", "code/python", LIB),
                                      ("py/bmod/0001", "code/python", USE)]))


def test_star_import_expands_to_all_module_symbols(graph):
    star = graph.mentions.filter((F.col("kind") == "import")
                           & (F.col("name") == "*"))
    star_ids = [r["mention_id"] for r in star.collect()]
    assert len(star_ids) == 1
    targets = {
        r["tname"] for r in graph.linked.filter(F.col("pred") == "REFERS_TO")
        .filter(F.col("subj").isin(star_ids))
        .join(graph.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("name").alias("tname")), "obj")
        .select("tname").collect()
    }
    assert targets == {"fa", "fb", "VA"}


def test_name_through_star_import_resolves(graph):
    calls = (
        graph.linked.filter(F.col("pred") == "CALLS")
        .join(graph.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("module").alias("callee_mod"),
                             F.col("name").alias("callee")), "obj")
        .select("callee", "callee_mod").collect()
    )
    assert ("fa", "amod") in {(r["callee"], r["callee_mod"]) for r in calls}
    assert graph.inferred.filter(F.col("name") == "fa").count() == 0
