"""Mixed-language generated corpus: every frontend exercised in one
pipeline run, zero ProblemDeclarations, per-language node production."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import generated_docs_multilang


def test_multilang_parse_clean(spark):
    docs = generated_docs_multilang(spark, 400, n_hubs=8)
    g = CpgGraph(docs)
    nodes, edges = g.nodes, g.edges
    problems = nodes.filter(F.col("label") == "ProblemDeclaration")
    assert problems.count() == 0, problems.limit(5).collect()
    per_lang = {
        r["lang"]: r["n"]
        for r in nodes.select(
            F.split(F.col("doc_id"), "/").getItem(0).alias("lang")
        ).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert per_lang.get("py", 0) > 0
    assert per_lang.get("go", 0) > 0
    assert per_lang.get("java", 0) > 0
    # java this-calls resolved in-document
    calls = (
        edges.filter(F.col("pred") == "CALLS")
        .join(nodes.select(F.col("node_id").alias("subj"),
                           F.col("doc_id").alias("d"),
                           F.col("name").alias("callee")), "subj")
    )
    assert calls.filter(F.col("d").startswith("java/")
                        & (F.col("callee") == "calc")).count() > 0
    # go short-var + call facts exist
    assert calls.filter(F.col("d").startswith("go/")).count() > 0
