"""Type/alias canonicalization (SURVEY.md A1, stage 8).

The reference's TypeResolver deduplicates equal ``Type`` objects and
rewires every ``HasType`` node to the canonical instance
(``core/passes/TypeResolver.java:83-160``); typedef chains make this a
connected-components problem over the alias graph (``TypedefDeclaration``,
``Type.SUPER_TYPE`` between type nodes).

Spark shape: first-order dedup is free — type nodes already carry
content-hash ids over the normalized name (``cpg_spark.ids.type_id``), so
equal spellings collapse on ``dropDuplicates``.  Alias chains (Go
``type A = B``; Python ``X = Y`` re-exports) become edges; canonical
representative = min node id of each component via iterative
large-star/small-star CC (cpg_spark.operators.cc), then every EVAL_TYPE
(and SUPER_TYPE-to-type) edge is remapped through the component table
with one broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpg_spark.operators.cc import connected_components


def type_alias_edges(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """SUPER_TYPE edges whose BOTH endpoints are Type nodes are alias
    edges (typedefs); record→Type supertype edges are hierarchy, not
    aliasing, and stay untouched."""
    type_ids = nodes.filter(F.col("label") == "Type").select(
        F.col("node_id").alias("tid")
    )
    return (
        edges.filter(F.col("pred") == "SUPER_TYPE")
        .join(type_ids.withColumnRenamed("tid", "subj"), "subj")
        .join(type_ids.withColumnRenamed("tid", "obj"), "obj")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )


def type_components(nodes: DataFrame, edges: DataFrame,
                    max_rounds: int = 50) -> DataFrame:
    """(node, component) map for aliased type nodes, or an empty frame.

    Run this against the CHEAP committed tables (pred-pushdown scan) —
    the probe and CC must not drag the whole downstream edge plan along."""
    alias = type_alias_edges(nodes, edges).persist()
    if alias.limit(1).count() == 0:
        # no typedef chains in the corpus: skip the CC driver loop
        alias.unpersist()
        spark = nodes.sparkSession
        return spark.createDataFrame([], "node bigint, component bigint")
    return connected_components(alias, max_rounds=max_rounds).persist()


def remap_types(nodes: DataFrame, edges: DataFrame, comp: DataFrame):
    """Apply a component map: EVAL_TYPE/SUPER_TYPE/GENERICS/RAW_TYPE objs
    -> canonical (and for the type-to-type GENERICS/RAW_TYPE edges the
    SUBJECT side too — both endpoints are type nodes, either may be an
    alias), non-canonical type nodes dropped.  Returns (nodes', edges')."""
    remap = comp.select(F.col("node").alias("obj"),
                        F.col("component").alias("canon"))
    remap_s = comp.select(F.col("node").alias("subj"),
                          F.col("component").alias("canon_s"))
    type_preds = ("EVAL_TYPE", "SUPER_TYPE", "GENERICS", "RAW_TYPE")
    remapped_edges = (
        edges.join(F.broadcast(remap), "obj", "left")
        .withColumn(
            "obj",
            F.when(
                F.col("pred").isin(*type_preds) & F.col("canon").isNotNull(),
                F.col("canon"),
            ).otherwise(F.col("obj")),
        )
        .drop("canon")
        .join(F.broadcast(remap_s), "subj", "left")
        .withColumn(
            "subj",
            F.when(
                F.col("pred").isin("GENERICS", "RAW_TYPE")
                & F.col("canon_s").isNotNull(),
                F.col("canon_s"),
            ).otherwise(F.col("subj")),
        )
        .drop("canon_s")
        # alias self-loops after remap are meaningless
        .filter(~(F.col("pred").isin("SUPER_TYPE", "GENERICS", "RAW_TYPE")
                  & (F.col("subj") == F.col("obj"))))
    )
    # drop non-canonical type nodes (they were aliases)
    non_canon = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("node_id")
    )
    remapped_nodes = nodes.join(F.broadcast(non_canon), "node_id", "left_anti")
    return remapped_nodes, remapped_edges
