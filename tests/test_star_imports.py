"""Wildcard-import expansion (ImportResolver.java:62-120): a
``from mod import *`` mention refers to every module-level symbol of the
source module, and names used through it resolve cross-document."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators.link import link_combined, split_linked
from cpg_spark.operators.parse import parse_docs, split_parse_output
from cpg_spark.schemas import DOCS_SCHEMA

LIB = ("def fa(x):\n    return x\n\n"
       "def fb():\n    return 2\n\n"
       "VA = 7\n")
USE = ("from amod import *\n\n"
       "def main():\n    y = fa(1)\n    return y\n")


def _parsed(spark):
    docs = spark.createDataFrame(
        [{"doc_id": "py/amod/0001",
          "spans": [{"kind": "code/python", "text": LIB, "media_ref": None,
                     "offset": 0}]},
         {"doc_id": "py/bmod/0001",
          "spans": [{"kind": "code/python", "text": USE, "media_ref": None,
                     "offset": 0}]}],
        schema=DOCS_SCHEMA)
    return split_parse_output(parse_docs(docs).persist())


def test_star_import_expands_to_all_module_symbols(spark):
    nodes, edges, mentions, symbols = _parsed(spark)
    combined, _ = link_combined(mentions, symbols, nodes, edges)
    linked, _ = split_linked(combined)
    star = mentions.filter((F.col("kind") == "import")
                           & (F.col("name") == "*"))
    star_ids = [r["mention_id"] for r in star.collect()]
    assert len(star_ids) == 1
    targets = {
        r["tname"] for r in linked.filter(F.col("pred") == "REFERS_TO")
        .filter(F.col("subj").isin(star_ids))
        .join(symbols.select(F.col("decl_id").alias("obj"),
                             F.col("name").alias("tname")), "obj")
        .select("tname").collect()
    }
    assert targets == {"fa", "fb", "VA"}


def test_name_through_star_import_resolves(spark):
    nodes, edges, mentions, symbols = _parsed(spark)
    combined, _ = link_combined(mentions, symbols, nodes, edges)
    linked, inferred = split_linked(combined)
    calls = (
        linked.filter(F.col("pred") == "CALLS")
        .join(symbols.select(F.col("decl_id").alias("obj"),
                             F.col("module").alias("callee_mod"),
                             F.col("name").alias("callee")), "obj")
        .select("callee", "callee_mod").collect()
    )
    assert ("fa", "amod") in {(r["callee"], r["callee_mod"]) for r in calls}
    assert inferred.filter(F.col("name") == "fa").count() == 0
